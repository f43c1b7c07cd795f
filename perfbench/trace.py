"""Spans recorded around the benchmark's calls into each engine layer,
and the Spark event-log parser that attributes jobs, stages and task
metrics to those spans.

Attribution is by job submission time: the benchmark is a single
client making one call at a time, so a job submitted inside a span's
interval was caused by that span (or by one of its children).
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent, query id, counts),
    written out once when the run ends. Disabled, ``span`` costs one
    branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, qid: str | None = None, **counts):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans) + len(self._stack), "name": name,
               "parent": parent["id"] if parent else None,
               "qid": qid if qid is not None
               else (parent["qid"] if parent else None),
               "start": time.time(), "end": None, "counts": dict(counts)}
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)

    def named(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["name"].startswith(prefix)]

    def self_seconds(self) -> dict[str, float]:
        """Per span name: total duration minus the part covered by
        child spans."""
        kids: dict = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_len([(c["start"], c["end"])
                                  for c in kids.get(s["id"], ())],
                                 s["start"], s["end"])
            out[s["name"]] = (out.get(s["name"], 0.0)
                              + (s["end"] - s["start"]) - covered)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": sorted(self.spans,
                                       key=lambda s: s["start"]),
                       **extra}, f)


def _union_len(intervals, lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class EventLog:
    """Jobs and task metrics from one application's Spark event log
    (times in seconds since the epoch, sizes in bytes)."""

    def __init__(self, event_dir: str):
        self.jobs: dict[int, dict] = {}
        self.tasks: list[dict] = []
        stage_job: dict[int, int] = {}
        paths = [p for p in glob.glob(os.path.join(event_dir, "*"))
                 if os.path.isfile(p)]
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log in {event_dir}, "
                               f"found {paths}")
        with open(paths[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    self.jobs[jid] = {"submit": ev["Submission Time"] / 1e3,
                                      "end": None}
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = \
                        ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.append(_task_row(ev, stage_job))

    def window(self, start: float, end: float) -> dict:
        """Totals over jobs submitted in [start, end]."""
        jids = {j for j, r in self.jobs.items()
                if start <= r["submit"] <= end}
        tasks = [t for t in self.tasks if t["job"] in jids]
        busy = _union_len([(r["submit"], r["end"] or end)
                           for j, r in self.jobs.items() if j in jids],
                          start, end)
        agg = {k: sum(t[k] for t in tasks) for k in _TASK_SUMS}
        return {"jobs": len(jids), "tasks": len(tasks),
                "wall_s": end - start, "driver_gap_s": (end - start) - busy,
                **agg}


_TASK_SUMS = ("run_s", "cpu_s", "deser_s", "gc_s", "sched_delay_s",
              "shuffle_read_b", "shuffle_write_b", "spill_b", "output_b",
              "failed")


def _task_row(ev: dict, stage_job: dict) -> dict:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    run = m.get("Executor Run Time", 0) / 1e3
    deser = m.get("Executor Deserialize Time", 0) / 1e3
    ser = m.get("Result Serialization Time", 0) / 1e3
    dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
    getting = info.get("Getting Result Time", 0)
    fetch = ((info.get("Finish Time", 0) - getting) / 1e3
             if getting else 0.0)
    return {
        "job": stage_job.get(ev.get("Stage ID"), -1),
        "run_s": run,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "deser_s": deser,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "sched_delay_s": max(0.0, dur - run - deser - ser - fetch),
        "shuffle_read_b": (sr.get("Remote Bytes Read", 0)
                           + sr.get("Local Bytes Read", 0)),
        "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
        "spill_b": (m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0)),
        "output_b": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "failed": 1 if info.get("Failed") else 0,
    }


def spans_totals(log: EventLog, spans: list[dict]) -> dict:
    """Sum of ``EventLog.window`` over spans (spans must not nest)."""
    tot: dict = {}
    for s in spans:
        for k, v in log.window(s["start"], s["end"]).items():
            tot[k] = tot.get(k, 0) + v
    return tot
