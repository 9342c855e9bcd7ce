"""Spans around calls into the engine's layers, and the Spark event-log
metrics of the jobs each span ran.

A span records its name, start, end, parent span and group (the op cycle
or set-up it belongs to). While a span is open, its label is the Spark
job group, so every task in the event log can be charged to the
innermost open span. Spans stay in memory; ``span_rows`` joins them
with the event log once the session has stopped.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op,
    so the untraced path runs exactly the calls the traced one times."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.group = "setup-0"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = {
            "name": name,
            "label": f"{name}#{len(self.spans)}",
            "parent": self._stack[-1]["label"] if self._stack else None,
            "group": self.group,
            "start": time.time(),
        }
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s["label"], name)
        try:
            yield
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["label"],
                                    self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def materialize(self, df: DataFrame) -> tuple[DataFrame, int | None]:
        """Run a lazy layer output inside the open span (traced run only),
        so its work is charged to that layer and not to the next one.
        Returns the frame and its row count (None when untraced).

        A local checkpoint, not a cache: it cuts the lineage, so the next
        layer plans against a small scan. With every layer output cached
        instead, Spark matched each new plan against all the cached plans,
        which cost seconds per call and was charged to the next layer."""
        if not self.enabled:
            return df, None
        df = df.localCheckpoint(eager=True)
        return df, df.count()


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def read_event_log(log_dir: str) -> tuple[list[dict], dict[str, int]]:
    """Every finished task attempt in the event log, with the job group
    of the job that ran its stage, and the number of jobs per group."""
    stage_group: dict[int, str | None] = {}
    jobs: dict[str, int] = defaultdict(int)
    tasks = []
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True))
    for path in filter(os.path.isfile, paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[group] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "launch": info["Launch Time"] / 1000.0,
                        "finish": info["Finish Time"] / 1000.0,
                        "failed": bool(info.get("Failed")),
                        "attempt": int(info.get("Attempt", 0)),
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "records_read": (m.get("Input Metrics") or {}).get("Records Read", 0),
                        "bytes_written": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    })
    for t in tasks:
        t["label"] = stage_group.get(t["stage"])
    return tasks, jobs


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


def span_rows(spans: list[dict], tasks: list[dict],
              jobs: dict[str, int]) -> list[dict]:
    """Per span: self time (wall minus its child spans), driver-only time
    (wall with no task of the span running) and its tasks' sums."""
    by_label = defaultdict(list)
    for t in tasks:
        by_label[t["label"]].append(t)
    children = defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append((s["start"], s["end"]))
    rows = []
    for s in spans:
        ts = by_label.get(s["label"], [])
        wall = s["end"] - s["start"]
        stages = defaultdict(list)
        for t in ts:
            if not t["failed"]:
                stages[t["stage"]].append(t["run_s"])
        # skew of the stage that kept the span's tasks busiest: its
        # slowest task bounds what a faster kernel can save
        main = max(stages.values(), key=sum, default=[])
        rows.append({
            "name": s["name"], "label": s["label"], "parent": s["parent"],
            "group": s["group"], "wall_s": wall,
            "self_s": wall - _union_s(children[s["label"]], s["start"], s["end"]),
            "driver_s": wall - _union_s([(t["launch"], t["finish"]) for t in ts],
                                        s["start"], s["end"]),
            "jobs": jobs.get(s["label"], 0),
            "tasks": len(ts),
            "task_busy_s": sum(t["run_s"] for t in ts if not t["failed"]),
            "task_skew": (max(main) / statistics.median(main)
                          if main and statistics.median(main) > 0 else 0.0),
            "gc_s": sum(t["gc_s"] for t in ts),
            "records_read": sum(t["records_read"] for t in ts),
            "bytes_written": sum(t["bytes_written"] for t in ts),
            "shuffle_write": sum(t["shuffle_write"] for t in ts),
            "spill": sum(t["spill"] for t in ts),
            "retries": sum(1 for t in ts if t["attempt"] > 0),
            "failed": sum(1 for t in ts if t["failed"]),
        })
    return rows


def per_group(rows: list[dict], name: str, field: str, agg=sum) -> float:
    """Median over groups (op cycles or set-ups) of ``agg`` of ``field``
    over the spans called ``name`` in the group; 0 when no span ran."""
    vals: dict[str, list[float]] = defaultdict(list)
    for r in rows:
        if r["name"] == name:
            vals[r["group"]].append(r[field])
    return statistics.median(agg(v) for v in vals.values()) if vals else 0.0
