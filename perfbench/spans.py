"""Spans around the benchmark's calls into engine layers.

A span records name, start, end, parent span and the op (iteration,
question or query) it serves. Each span runs under its own Spark job
group, so right after it closes the stages of that group are read from
the driver status store (works with ``spark.ui.enabled=false``), before
``spark.ui.retainedStages`` can evict them. Spans stay in memory and are
written out once, with self times, by :meth:`Tracer.write`.

A disabled tracer records nothing and sets no job group, so the
untraced run pays only a no-op context manager per call.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

MB = 1024.0 * 1024.0


def storage_snapshot(spark) -> dict[str, float]:
    """Persisted relations right now: count and memory+disk bytes, from
    ``getRDDStorageInfo`` (no Spark job)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    total = sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
    return {"rdds": len(infos), "cached_mb": total / MB}


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / MB


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.snapshots: list[dict] = []
        self.bookkeeping_s = 0.0
        self._stack: list[dict] = []
        self._next_id = 0
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self._next_id += 1
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
        }
        rec["group"] = f"perfbench-span-{rec['id']}"
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        rec["book_s"] = rec["start"] - t  # the tracer's own time
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec.update(self._stage_metrics(rec["group"]))
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()
            self.spans.append(rec)
            rec["book_s"] += time.perf_counter() - rec["end"]
            self.bookkeeping_s += rec["book_s"]

    def _stage_metrics(self, group: str) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = {"jobs": 0, "tasks": 0, "executor_s": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        for job_id in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in (info.stageIds if info else ()):
                try:
                    s = store.lastStageAttempt(stage_id)
                except Py4JError:  # skipped stage: never attempted
                    continue
                out["tasks"] += int(s.numCompleteTasks())
                out["executor_s"] += int(s.executorRunTime()) / 1000.0
                out["shuffle_write_mb"] += int(s.shuffleWriteBytes()) / MB
                out["spill_mb"] += int(s.diskBytesSpilled()) / MB
        return out

    def snapshot(self, spark, op: str) -> dict[str, float]:
        """Residency after ``op``; kept only when tracing."""
        snap = storage_snapshot(spark)
        if self.enabled:
            self.snapshots.append({"op": op, **snap})
        return snap

    # -- aggregation -----------------------------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]

    def total(self, name: str, field: str | None = None) -> float:
        if field is None:
            return sum(self.durations(name))
        return sum(s[field] for s in self.named(name))

    def _self_times(self) -> dict[int, float]:
        """Duration minus the union of the child spans' intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(
                    (s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], ())):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        selfs = self._self_times()
        spans = [
            {
                **{k: v for k, v in s.items() if k not in ("start", "end")},
                "start_s": s["start"] - self._t0,
                "end_s": s["end"] - self._t0,
                "dur_s": s["end"] - s["start"],
                "self_s": selfs[s["id"]],
            }
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "bookkeeping_s": self.bookkeeping_s,
                       "spans": spans, "residency": self.snapshots},
                      fh, indent=1)
