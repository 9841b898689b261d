"""Measurement helpers for the benchmark runner, free of Spark imports.

- ``Tracer`` keeps spans in memory (run -> pass -> op -> build/exec) and
  computes self time.
- ``tail`` applies the tail-percentile rule to latency samples.
- ``fold_event_log`` reads a Spark event log (JSON lines, uncompressed) and
  folds jobs, stages, tasks and Python-node SQL metrics into per-pass,
  per-phase counters, using the job group the runner sets around each call.
- ``fold_progress`` does the same for streaming progress events.
"""
from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

MB = 1024 * 1024
PHASES = ("build", "exec")

# SQL metrics of the Python evaluation nodes (MapInPandas, ArrowEvalPython,
# FlatMapGroupsInPandas, ...): bytes crossing the Arrow boundary.
ARROW_TO_PY = "data sent to Python workers"
ARROW_FROM_PY = "data returned from Python workers"
PYTHON_NODE_MARKERS = ("Pandas", "Python", "Arrow")

SPARK_COUNTERS = (
    "stages", "tasks", "stages_skipped_ratio", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb", "task_skew",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder; spans are written out once, at exit."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def open(self, name: str, op: str | None = None) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, parent, op, time.time())
        self.spans.append(span)
        self._stack.append(span.id)
        return span

    def close(self, span: Span) -> float:
        span.end = time.time()
        assert self._stack and self._stack[-1] == span.id, "spans must nest"
        self._stack.pop()
        return span.duration

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        covered = union_length(
            (max(c.start, span.start), min(c.end, span.end)) for c in self.children(span)
        )
        return span.duration - covered

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                "start": s.start, "end": s.end, "self_s": self.self_time(s),
            }
            for s in self.spans
        ]


def union_length(intervals) -> float:
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def tail(samples: list[float]) -> tuple[float, float, int]:
    """Highest percentile of `samples` that still has >= 10 samples beyond it.

    Returns (value, percentile, samples beyond). Only from 23 samples on
    does that percentile lie above the median. With fewer, the tail reads
    the median (odd count) or the upper median (even count) instead, and
    the returned count says how many samples lie beyond it.
    """
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    n = len(xs)
    i = max(n - 11, n // 2)
    return xs[i], 100.0 * (i + 1) / n, n - 1 - i


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------
@dataclass
class _Job:
    group: str | None
    submit: float
    end: float
    stages: list[int]


def parse_group(group: str | None, workload: str) -> tuple[int, str, str] | None:
    """`<workload>:<pass>:<op>:<phase>` -> (pass, op, phase)."""
    if not group:
        return None
    parts = group.split(":")
    if len(parts) != 4 or parts[0] != workload or parts[3] not in PHASES:
        return None
    return int(parts[1]), parts[2], parts[3]


def _locate(windows, t: float):
    """The (pass, op, phase) whose wall window holds time `t`, else None."""
    for start, end, key in windows:
        if start <= t <= end:
            return key
    return None


def fold_event_log(lines, workload: str, windows) -> dict:
    """Fold event-log lines into {(pass, op, phase): counters}.

    `windows` lists (start, end, (pass, op, phase)) wall-clock phase spans.
    Jobs carrying the runner's job group are attributed by that group; jobs
    without one (streaming micro-batches run on their own thread and lose
    it) are attributed to the phase span that holds their submission time.
    """
    jobs: dict[int, _Job] = {}
    stage_job: dict[int, int] = {}
    stage_ran: set[int] = set()
    task_times: dict[int, list[float]] = defaultdict(list)
    task_sums: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    python_acc: dict[int, str] = {}

    def plan_metrics(node):
        name = node.get("nodeName", "")
        if any(m in name for m in PYTHON_NODE_MARKERS):
            for m in node.get("metrics", []):
                if m.get("name") in (ARROW_TO_PY, ARROW_FROM_PY):
                    python_acc[m["accumulatorId"]] = m["name"]
        for child in node.get("children", []):
            plan_metrics(child)

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            sids = [s["Stage ID"] for s in ev.get("Stage Infos", [])]
            jobs[jid] = _Job(props.get("spark.jobGroup.id"), ev["Submission Time"] / 1e3, 0.0, sids)
            for sid in sids:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            stage_ran.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            info, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            task_times[sid].append((info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3)
            acc = task_sums[sid]
            acc["tasks"] += 1
            acc["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            acc["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sr = tm.get("Shuffle Read Metrics", {})
            acc["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
            acc["shuffle_write_mb"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
            acc["spill_mb"] += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / MB
            acc["input_mb"] += tm.get("Input Metrics", {}).get("Bytes Read", 0) / MB
            for a in info.get("Accumulables", []):
                name = python_acc.get(a.get("ID"))
                if name is not None:
                    key = "arrow_to_python_mb" if name == ARROW_TO_PY else "arrow_from_python_mb"
                    acc[key] += float(a.get("Update", 0)) / MB
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            plan_metrics(ev.get("sparkPlanInfo", {}))

    out: dict[tuple, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for jid, job in jobs.items():
        key = parse_group(job.group, workload) or _locate(windows, job.submit)
        if key is None:
            continue
        rec = out[key]
        rec["jobs"] += 1
        rec.setdefault("job_intervals", []).append((job.submit, job.end or job.submit))
        for sid in job.stages:
            if stage_job.get(sid) != jid:
                continue  # a stage shared with an earlier job counts once
            rec["stages_in_jobs"] += 1
            if sid not in stage_ran:
                rec["stages_skipped"] += 1
                continue
            rec["stages"] += 1
            for k, v in task_sums[sid].items():
                rec[k] += v
            durs = task_times[sid]
            if len(durs) >= 2:
                mid = statistics.median(durs)
                skew = max(durs) / mid if mid > 0 else 1.0
                rec["task_skew"] = max(rec.get("task_skew", 1.0), skew)
    return out


def fold_progress(progress: list[dict], windows) -> dict:
    """Streaming progress events -> {(pass, op, phase): counters}."""
    out: dict[tuple, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    state: dict[tuple, tuple[float, float]] = {}
    for p in progress:
        key = _locate(windows, p["t"])
        if key is None:
            continue
        rec = out[key]
        d = p["durations_ms"]
        rec["batches"] += 1
        rec["trigger_s"] += d.get("triggerExecution", 0) / 1e3
        rec["add_batch_s"] += d.get("addBatch", 0) / 1e3
        rec["commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
        # state size is a level, not a flow: keep each query's last reading
        state[(key, p["run_id"])] = (p["state_rows"], p["state_bytes"] / MB)
    for (key, _run), (rows, mb) in state.items():
        out[key]["state_rows"] += rows
        out[key]["state_mb"] += mb
    return out
