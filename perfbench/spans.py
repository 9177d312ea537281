"""Benchmark-side spans and Spark's own accounting of them.

A span is recorded around each call the benchmark makes into the program:
batch -> query frame (``literal_df``) -> strategy call (construct) ->
action (execute), and the ``dynamic`` store calls. Spans stay in memory
and are written out when the run ends. When tracing is on, each span runs
under its own Spark job group, so ``statusTracker`` and the event log can
attribute jobs, stages, tasks and executor time to it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, batch: int | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "batch": batch if batch is not None else (parent or {}).get("batch"),
            "parent": parent["id"] if parent else None,
            "id": len(self.spans),
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self.spark.sparkContext if self.enabled else None
        if sc is not None:
            rec["group"] = f"b{rec['batch']}/{name}/{rec['id']}"
            sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                self._count(sc, rec)
                if parent is not None and "group" in parent:
                    sc.setJobGroup(parent["group"], parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    @staticmethod
    def _count(sc, rec: dict) -> None:
        """Jobs, stages and tasks this span ran, from the status tracker
        (read right away, before the tracker's retention drops them)."""
        st = sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(rec["group"]))
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is not None:
                    stages += 1
                    tasks += si.numCompletedTasks
        rec.update(jobs=len(jobs), stages=stages, tasks=tasks)

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def subtree(self, rec: dict) -> list[dict]:
        return [rec] + [x for c in self.children(rec) for x in self.subtree(c)]

    def subtree_count(self, rec: dict, key: str) -> int:
        return sum(x.get(key, 0) for x in self.subtree(rec))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark settings for an uncompressed event log (no zstd reader is
    installed, and zstd is Spark's default codec)."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str, app_id: str) -> dict:
    """Per job group: job intervals and summed task metrics.

    Returns ``{group: {"jobs": [(start_s, end_s)], "run_s", "cpu_s",
    "gc_s", "shuffle_bytes"}}`` from the application's event log.
    """
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.basename(p).startswith(app_id)]
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def slot(g):
        return out.setdefault(g, {"jobs": [], "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0})

    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g is None:
                    continue
                jid = ev["Job ID"]
                job_group[jid] = g
                job_start[jid] = ev["Submission Time"] / 1000.0
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
                jid = ev["Job ID"]
                slot(job_group[jid])["jobs"].append((job_start[jid], ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_group:
                m = ev.get("Task Metrics") or {}
                s = slot(stage_group[ev["Stage ID"]])
                s["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                s["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                s["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return out


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
