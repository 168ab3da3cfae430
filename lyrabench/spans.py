"""Layer attribution for the traced run: spans, Spark job groups, event log.

Spans are recorded from the benchmark's own code only: ``Tracer.wrap``
replaces a public function on the module attribute its caller looks it up
through, and every call then runs inside a span. A span sets a unique Spark
job group (``<span>#<call>``) on the calling thread, so each job the call
triggers carries its span in the event log. Threads do not inherit the group,
which is why the partition loop wraps the functions the CLI's worker threads
call rather than the CLI entry point.

A lazy layer builds a plan and launches no job; its work lands in the span
that forces it. Spans are kept in memory and joined with the event log after
the traced SparkContext stops.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time

# Span names, in report order. Every traced run reports every one of them,
# with zeros for the spans its workload never enters.
SPANS = (
    "fused.validate_transcripts_fused",
    "io.write_violations",
    "io.partition_row_counts",
    "presets.verdicts_from_metadata",
    "verdicts.force",
    "jobs.validate.validate_transcripts",
    "checkpoint.save_manifest",
    "checkpoint.load_manifest",
    "stats.column_stats",
    "stats.length_histogram",
    "drift.drift_verdicts",
    "session.get_spark",
)
SPAN_FIELDS = ("wall_s", "calls", "jobs", "tasks", "task_s", "cpu_s", "shuffle_write_bytes", "spill_bytes")
# jobs launched inside a traced operation but outside every span
OTHER = "other"
OTHER_FIELDS = ("jobs", "tasks", "task_s", "cpu_s", "shuffle_write_bytes", "spill_bytes")
# the only span with a child span (it calls fused.validate_transcripts_fused)
SELF_TIME_SPANS = ("jobs.validate.validate_transcripts",)

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Tracer:
    """In-memory span recorder. ``sc`` is the SparkContext whose job groups
    the spans set; None records wall time only (no Spark jobs to tag)."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.records: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        gid = f"{name}#{next(self._ids)}"
        prev = None
        if self.sc is not None:
            prev = [self.sc.getLocalProperty(k) for k in _GROUP_KEYS]
            self.sc.setJobGroup(gid, name)
        rec = {"name": name, "gid": gid, "parent": stack[-1]["gid"] if stack else None, "child_s": 0.0}
        stack.append(rec)
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()
            if stack:
                stack[-1]["child_s"] += rec["t1"] - rec["t0"]
            if self.sc is not None:
                for k, v in zip(_GROUP_KEYS, prev):
                    self.sc.setLocalProperty(k, v)
            with self._lock:
                self.records.append(rec)

    def wrap(self, module, attr: str, name: str) -> None:
        """Route ``module.attr`` through a span until ``unwrap_all``."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)


def read_event_log(log_dir: str, app_id: str) -> dict[int, dict]:
    """Jobs of one finished application: submission/completion (epoch ms),
    job group, and task totals summed over the job's stages."""
    paths = [p for p in glob.glob(os.path.join(log_dir, f"*{app_id}*")) if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log for {app_id} in {log_dir}, found {paths}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "submit_ms": ev["Submission Time"],
                    "end_ms": None,
                    "group": props.get("spark.jobGroup.id"),
                    "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
                    "shuffle_write_bytes": 0, "spill_bytes": 0,
                }
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    for ev in tasks:
        jid = stage_job.get(ev["Stage ID"])
        m = ev.get("Task Metrics")
        if jid is None or not m:
            continue
        j = jobs[jid]
        j["tasks"] += 1
        j["task_s"] += m.get("Executor Run Time", 0) / 1e3
        j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        j["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        j["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return jobs


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def layer_metrics(records: list[dict], jobs: dict[int, dict], windows: list[tuple[float, float]], cores: int) -> dict:
    """Per-operation layer metrics over the traced operations ``windows``
    (epoch seconds). Span and job totals are divided by the number of
    operations; ratios are taken over the totals."""
    n = len(windows)

    def inside(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    recs = [r for r in records if inside(r["t0"])]
    op_jobs = [j for j in jobs.values() if inside(j["submit_ms"] / 1e3)]
    out: dict[str, float] = {}

    by_span: dict[str, list[dict]] = {s: [] for s in (*SPANS, OTHER)}
    for j in op_jobs:
        name = (j["group"] or "").split("#", 1)[0]
        by_span[name if name in by_span else OTHER].append(j)
    for s, js in by_span.items():
        if s != OTHER:
            rs = [r for r in recs if r["name"] == s]
            out[f"{s}.wall_s"] = sum(r["t1"] - r["t0"] for r in rs) / n
            out[f"{s}.calls"] = len(rs) / n
        out[f"{s}.jobs"] = len(js) / n
        for f in ("tasks", "task_s", "cpu_s", "shuffle_write_bytes", "spill_bytes"):
            out[f"{s}.{f}"] = sum(j[f] for j in js) / n
    for s in SELF_TIME_SPANS:
        out[f"{s}.self_s"] = sum(r["t1"] - r["t0"] - r["child_s"] for r in recs if r["name"] == s) / n

    # the final job of each sink write: the ROADMAP's "4-task tail" lead
    last = []
    for r in recs:
        if r["name"] == "io.write_violations":
            js = [j for j in op_jobs if j["group"] == r["gid"]]
            if js:
                last.append(max(js, key=lambda j: j["submit_ms"]))
    out["io.write_violations.last_job_s"] = (
        sum((j["end_ms"] - j["submit_ms"]) / 1e3 for j in last) / len(last) if last else 0.0
    )
    out["io.write_violations.last_job_tasks"] = sum(j["tasks"] for j in last) / len(last) if last else 0.0

    pre, gap, wall = [], [], 0.0
    for a, b in windows:
        ivs = [(max(a, j["submit_ms"] / 1e3), min(b, j["end_ms"] / 1e3)) for j in op_jobs
               if a <= j["submit_ms"] / 1e3 <= b]
        pre.append(min((x for x, _ in ivs), default=b) - a)
        gap.append((b - a) - _union_s(ivs))
        wall += b - a
    task_s = sum(j["task_s"] for j in op_jobs)
    cpu_s = sum(j["cpu_s"] for j in op_jobs)
    out["spark.jobs"] = len(op_jobs) / n
    out["spark.tasks"] = sum(j["tasks"] for j in op_jobs) / n
    out["spark.task_s"] = task_s / n
    out["spark.cpu_s"] = cpu_s / n
    out["spark.pre_first_job_s"] = sum(pre) / n
    out["spark.driver_gap_s"] = sum(gap) / n
    out["spark.cpu_per_task_s"] = cpu_s / task_s if task_s else 0.0
    out["spark.core_occupancy"] = task_s / (wall * cores) if wall else 0.0
    return out
