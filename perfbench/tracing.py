"""Spans recorded around package calls, Spark event-log cost vectors, and
machine counters read from /proc.

A span is (name, start, end, parent). Its self time is its duration minus
the part of it that its child spans cover. Spark jobs are attributed to the
innermost span open at their submission time: the workloads are closed
loops with one client, so every job a streaming thread starts during an op
falls inside that op's span too.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Spans:
    """In-memory span recorder; a disabled recorder records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.records.append(rec)
        self._stack.append(len(self.records) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Self time of every span, index-aligned with ``records``."""
        children = defaultdict(list)
        for i, r in enumerate(self.records):
            if r["parent"] is not None:
                children[r["parent"]].append(i)
        out = []
        for i, r in enumerate(self.records):
            covered = _union_length(
                [(self.records[c]["start"], self.records[c]["end"]) for c in children[i]]
            )
            out.append(r["end"] - r["start"] - covered)
        return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

COST_KEYS = ("jobs", "tasks", "task_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs from the (uncompressed, non-rolling) event log, each with its
    submission time, call site and summed task metrics."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = {
                    "submitted": ev["Submission Time"] / 1000.0,
                    "call_site": props.get("callSite.short", ""),
                    **{k: 0 for k in COST_KEYS},
                    "jobs": 1,
                }
                jobs[ev["Job ID"]] = job
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job["tasks"] += 1
                job["task_cpu_s"] += m["Executor CPU Time"] / 1e9
                job["gc_s"] += m["JVM GC Time"] / 1000.0
                job["shuffle_write_mb"] += (
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6
                )
                job["spill_mb"] += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / 1e6
    return list(jobs.values())


def attribute_jobs(spans: Spans, jobs: list[dict]) -> list[list[dict]]:
    """Jobs per span (index-aligned with ``spans.records``): each job goes
    to the innermost span open at its submission time."""
    out: list[list[dict]] = [[] for _ in spans.records]
    order = sorted(range(len(spans.records)), key=lambda i: spans.records[i]["start"])
    for job in jobs:
        best = None
        for i in order:
            r = spans.records[i]
            if r["start"] > job["submitted"]:
                break
            if job["submitted"] <= r["end"]:
                best = i  # later start = deeper nesting
        if best is not None:
            out[best].append(job)
    return out


def cost(jobs: list[dict]) -> dict[str, float]:
    return {k: sum(j[k] for j in jobs) for k in COST_KEYS}


def call_site_module(call_site: str) -> str:
    """``collect at .../data_engineering_project_utn_spark/llm/dedup.py:42``
    → ``llm.dedup``; anything outside the package → ``unattributed``."""
    marker = "data_engineering_project_utn_spark/"
    if marker not in call_site:
        return "unattributed"
    path = call_site.split(marker, 1)[1].split(":", 1)[0]
    return path.removesuffix(".py").replace("/", ".")


# ---------------------------------------------------------------------------
# Machine and process counters
# ---------------------------------------------------------------------------


def cpu_times() -> list[int]:
    """Aggregate /proc/stat cpu line: user nice system idle iowait irq softirq steal."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except OSError:
        return [0] * 8


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta)
    return delta[7] / total if total else 0.0


def peak_rss_mb(pid: int | None) -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
