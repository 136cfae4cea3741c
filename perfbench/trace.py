"""Spans recorded around the benchmark's calls into the engine, and the
per-layer numbers made by joining them with Spark's event log.

Spans live in memory (``Tracer.spans``) and are written once, at exit.
Times are epoch seconds from ``time.time()``, the clock the event log
stamps in milliseconds, so a job belongs to a span when its interval
falls inside the span's.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Spans from the benchmark's main thread (the only one that calls
    into the engine); a span's parent is the span open around it."""

    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = {"id": len(self.spans), "name": name,
             "parent": self._open[-1] if self._open else None,
             "start": time.time(), "end": None, **attrs}
        self.spans.append(s)
        self._open.append(s["id"])
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._open.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def quantile(values, q: float) -> float:
    """Inclusive-method quantile; 0.0 for no samples."""
    values = sorted(values)
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


class EventLog:
    """Jobs, their task totals, and streaming progress from one
    application's uncompressed, non-rolling event log."""

    def __init__(self, log_dir: str):
        files = sorted(glob.glob(f"{log_dir}/*"))
        if not files:
            raise FileNotFoundError(f"no event log under {log_dir}")
        self.jobs: dict[int, dict] = {}
        self.progress: list[dict] = []
        stage_tasks: dict[int, dict] = {}
        with open(files[-1]) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    batch = props.get("streaming.sql.batchId")
                    self.jobs[e["Job ID"]] = {
                        "submit": e["Submission Time"] / 1000,
                        "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "query": props.get("sql.streaming.queryId"),
                        "batch": int(batch) if batch is not None else None,
                        "stages": list(e["Stage IDs"]),
                    }
                elif kind == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    t = stage_tasks.setdefault(
                        e["Stage ID"], {"tasks": 0, "run_s": 0.0, "shuffle": 0, "spill": 0}
                    )
                    t["tasks"] += 1
                    t["run_s"] += m.get("Executor Run Time", 0) / 1000
                    t["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    t["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                    p = e["progress"]
                    start = dt.datetime.fromisoformat(
                        p["timestamp"].replace("Z", "+00:00")
                    ).timestamp()
                    self.progress.append(
                        {
                            "query": p["id"],
                            "batch": p["batchId"],
                            "start": start,
                            "end": start + p["durationMs"].get("triggerExecution", 0) / 1000,
                            "durations": {k: v / 1000 for k, v in p["durationMs"].items()},
                            "rows": sum(s.get("numInputRows", 0) for s in p["sources"]),
                        }
                    )
        for job in self.jobs.values():
            if job["end"] is None:  # the app stopped mid-job
                job["end"] = job["submit"]
            totals = {"stages": 0, "tasks": 0, "run_s": 0.0, "shuffle": 0, "spill": 0}
            for sid in job["stages"]:
                t = stage_tasks.get(sid)
                if t:  # stages skipped on a shuffle reuse ran no tasks
                    totals["stages"] += 1
                    for k in ("tasks", "run_s", "shuffle", "spill"):
                        totals[k] += t[k]
            job.update(totals)

    def jobs_between(self, lo: float, hi: float) -> list[dict]:
        return [j for j in self.jobs.values() if lo <= j["submit"] < hi]

    def jobs_within(self, windows) -> list[dict]:
        return [j for lo, hi in windows for j in self.jobs_between(lo, hi)]


def _job_totals(jobs) -> dict:
    return {
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "task_time_s": sum(j["run_s"] for j in jobs),
        "shuffle_write_bytes": sum(j["shuffle"] for j in jobs),
        "spill_bytes": sum(j["spill"] for j in jobs),
    }


def span_jobs(log: EventLog, span: dict) -> list[dict]:
    """The jobs a call caused: those tagged with its job group when the
    call set one, otherwise every job submitted while it ran."""
    group = span.get("group")
    if group:
        return [j for j in log.jobs.values() if j["group"] == group]
    return log.jobs_between(span["start"], span["end"])


def call_breakdown(log: EventLog, span: dict) -> dict:
    jobs = span_jobs(log, span)
    wall = span["end"] - span["start"]
    busy = union_length(clip([(j["submit"], j["end"]) for j in jobs], span["start"], span["end"]))
    return {**_job_totals(jobs), "wall_s": wall, "driver_gap_s": max(wall - busy, 0.0)}


def layer_metrics(log: EventLog, calls: list[dict], windows: list[tuple[float, float]],
                  parallelism: int) -> dict[str, float]:
    """Per-layer metrics of the measured windows (the intervals in which
    the workload drove the engine, without the benchmark's own input
    generation between them):

    - ``spark.*``: every job submitted in a window.
    - ``stream.*``: every Structured Streaming micro-batch that started
      in a window, with its jobs found by (query id, batch id); phase
      times, jobs, tasks and gaps are means per batch.
    - ``call.*``: the workload's looped public call (its ``calls``),
      as means per call.
    """
    wall = sum(hi - lo for lo, hi in windows)
    jobs = log.jobs_within(windows)
    busy = sum(
        union_length(clip([(j["submit"], j["end"]) for j in jobs], lo, hi))
        for lo, hi in windows
    )
    out = {f"spark.{k}": v for k, v in _job_totals(jobs).items()}
    out["spark.driver_gap_s"] = max(wall - busy, 0.0)
    out["spark.core_utilization"] = out["spark.task_time_s"] / (wall * parallelism)

    batches = [p for p in log.progress if any(lo <= p["start"] < hi for lo, hi in windows)]
    by_batch: dict[tuple, list] = {}
    for j in log.jobs.values():
        if j["batch"] is not None:
            by_batch.setdefault((j["query"], j["batch"]), []).append(j)
    n = max(len(batches), 1)
    stream_jobs, gap = [], 0.0
    for p in batches:
        bj = by_batch.get((p["query"], p["batch"]), [])
        stream_jobs += bj
        covered = union_length(clip([(j["submit"], j["end"]) for j in bj], p["start"], p["end"]))
        gap += max(p["end"] - p["start"] - covered, 0.0)
    st = _job_totals(stream_jobs)
    durs = [p["durations"].get("triggerExecution", 0.0) for p in batches]
    # per-batch means, so runs that fit more batches stay comparable
    out.update({
        "stream.batches": len(batches),
        "stream.batch_p50_s": quantile(durs, 0.5),
        "stream.batch_p90_s": quantile(durs, 0.9),
        "stream.jobs_per_batch": st["jobs"] / n,
        "stream.tasks_per_batch": st["tasks"] / n,
        "stream.task_time_s": st["task_time_s"] / n,
        "stream.driver_gap_s": gap / n,
    })
    for phase in ("addBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets"):
        out[f"stream.{phase}_s"] = sum(p["durations"].get(phase, 0.0) for p in batches) / n

    parts = [call_breakdown(log, s) for s in calls]
    k = max(len(parts), 1)
    out.update({
        "call.count": len(parts),
        "call.p50_s": quantile([p["wall_s"] for p in parts], 0.5),
        "call.jobs_per_call": sum(p["jobs"] for p in parts) / k,
        "call.tasks_per_call": sum(p["tasks"] for p in parts) / k,
        "call.task_time_s": sum(p["task_time_s"] for p in parts) / k,
        "call.driver_gap_s": sum(p["driver_gap_s"] for p in parts) / k,
    })
    return out
