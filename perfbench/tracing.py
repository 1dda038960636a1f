"""Spans and Spark status-store reads for the traced run.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, request
id) and writes them once, at the end of the run. The workloads record each
span's bounds while they run and add the spans after the measuring window.
:class:`SparkLayers` tags work with a job group and, after the run, reads
per-stage executor metrics for each group back out of Spark's status
store. Both are used only when the benchmark runs with ``--trace 1``.
"""

from __future__ import annotations

import json
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name: str, rid: str, start: float, end: float,
            parent: int | None = None) -> int:
        """Record a span; returns its index, to pass as a child's parent."""
        self.spans.append({"name": name, "rid": rid, "parent": parent,
                           "start": start, "end": end})
        return len(self.spans) - 1

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the union of the
        intervals its direct children cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered = union_length(children.get(i, []), s["start"], s["end"])
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, fh)


def union_length(intervals, lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Length of the union of ``intervals``, clipped to ``[lo, hi]``."""
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


STAGE_FIELDS = ("tasks", "run_s", "cpu_s", "input_bytes", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes")


class SparkLayers:
    """Job-group tagging plus a post-run read of Spark's status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = spark._jvm

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def stages(self) -> dict[int, dict]:
        """Every completed stage attempt the status store still holds, keyed
        by stage id; wall-clock bounds are epoch seconds."""
        store = self.sc._jsc.sc().statusStore()
        lst = store.stageList(None, False, False,
                              self.sc._gateway.new_array(self.jvm.double, 0),
                              self.jvm.java.util.ArrayList())
        out: dict[int, dict] = {}
        for i in range(lst.size()):
            s = lst.apply(i)
            sub, comp = s.submissionTime(), s.completionTime()
            if not (sub.isDefined() and comp.isDefined()):
                continue  # skipped or still running
            rec = {
                "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "input_bytes": s.inputBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "start": sub.get().getTime() / 1e3,
                "end": comp.get().getTime() / 1e3,
            }
            prev = out.get(s.stageId())
            if prev is None:
                out[s.stageId()] = rec
            else:  # a retried attempt: add its work, widen its interval
                for k in STAGE_FIELDS:
                    prev[k] += rec[k]
                prev["start"] = min(prev["start"], rec["start"])
                prev["end"] = max(prev["end"], rec["end"])
        return out

    def group_summary(self, group: str, stages: dict[int, dict]) -> dict:
        """Jobs, executed stages and summed stage metrics of one job group."""
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(x) for x in info.stageIds)
        run = [stages[s] for s in stage_ids if s in stages]
        out = {k: sum(r[k] for r in run) for k in STAGE_FIELDS}
        out["jobs"] = len(jobs)
        out["stages"] = len(run)
        out["single_task_stages"] = sum(1 for r in run if r["tasks"] == 1)
        out["intervals"] = [(r["start"], r["end"]) for r in run]
        return out

    def job_submit_times(self) -> list[float]:
        """Submission time (epoch seconds) of every job the store holds."""
        lst = self.sc._jsc.sc().statusStore().jobsList(None)
        out = []
        for i in range(lst.size()):
            sub = lst.apply(i).submissionTime()
            if sub.isDefined():
                out.append(sub.get().getTime() / 1e3)
        return out
