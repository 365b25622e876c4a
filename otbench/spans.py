"""In-memory spans around the engine's public calls, plus Spark event-log
accounting per span.

Every span sets the Spark job group to its own id while it is open, so each
job (and through it each stage and task) in the event log belongs to the
innermost open span. Spans are kept in memory and written out once, at exit.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        # Seconds spent in span bookkeeping and job-group calls to the JVM.
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, **tags):
        start = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = {"id": f"{self.run_id}:{len(self.spans)}", "name": name,
             "parent": parent["id"] if parent else None, "run_id": self.run_id,
             "tags": tags, "start": start, "end": None}
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s["id"], name)
        self.overhead_s += time.perf_counter() - start
        try:
            yield s
        finally:
            closing = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            s["end"] = time.perf_counter()
            self.overhead_s += s["end"] - closing

    def self_times(self) -> dict[str, float]:
        """Span id -> duration minus the time its direct children cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"]:
                children[s["parent"]].append(s)
        return {s["id"]: (s["end"] - s["start"])
                - _covered([(c["start"], c["end"]) for c in children[s["id"]]])
                for s in self.spans}

    def leaf_coverage(self, start: float, end: float) -> float:
        """Seconds of [start, end] covered by spans that have no children."""
        parents = {s["parent"] for s in self.spans}
        return _covered([(max(s["start"], start), min(s["end"], end))
                         for s in self.spans if s["id"] not in parents])

    def write(self, path: str) -> None:
        selfs = self.self_times()
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = [{**s, "start": s["start"] - t0, "end": s["end"] - t0,
                "self_s": selfs[s["id"]]} for s in self.spans]
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(out, fh, indent=1)


def _covered(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_EVENTS = tuple(f'{{"Event":"SparkListener{k}"' for k in ("JobStart", "StageSubmitted", "TaskEnd"))


def event_log_stats(event_dir: str) -> dict:
    """Parse the (uncompressed) Spark event log in ``event_dir``.

    Returns ``{"groups": {job_group: {"jobs", "shuffle_bytes"}}, "tasks": [...]}``
    where each task carries its job group, scheduler delay (launch minus
    stage submission, ms), executor run time, GC time and spill bytes.
    """
    files = [f for f in glob.glob(os.path.join(event_dir, "*")) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {event_dir}, found {files}")
    stage_group, stage_submit = {}, {}
    groups: dict[str, dict] = defaultdict(lambda: {"jobs": 0, "shuffle_bytes": 0})
    tasks = []
    with open(files[0], encoding="utf-8") as fh:
        for line in fh:
            # Skip the large SQL-plan events without parsing them.
            if not line.startswith(_EVENTS):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    groups[group]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stage_group[key] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stage_submit[key] = info.get("Submission Time")
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                group = stage_group.get(key)
                info, metrics = ev["Task Info"], ev.get("Task Metrics") or {}
                shuffle = (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                if group:
                    groups[group]["shuffle_bytes"] += shuffle
                submitted = stage_submit.get(key)
                tasks.append({
                    "group": group,
                    "sched_delay_ms": info["Launch Time"] - submitted if submitted else 0,
                    "run_ms": metrics.get("Executor Run Time", 0),
                    "gc_ms": metrics.get("JVM GC Time", 0),
                    "spill_bytes": metrics.get("Disk Bytes Spilled", 0)
                    + metrics.get("Memory Bytes Spilled", 0),
                })
    return {"groups": dict(groups), "tasks": tasks}
