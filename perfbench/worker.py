"""One benchmark run, in the fresh process that ``run.py`` starts for it.

Set-up is repeated ``SETUPS`` times (session start plus the workload's
warm-up; the first start launches the JVM, later ones restart the
SparkContext in it) and ``setup_s`` is their median. The workload is
then measured once, its outputs checked, and a result file written.
With ``--trace`` the last session also writes Spark's event log, which
is joined with the benchmark's spans into the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

import pyspark

from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.session import (
    get_spark,
)

from .trace import EventLog, Tracer, call_breakdown, layer_metrics, quantile
from .workloads import WORKLOADS, persistent_rdds

SETUPS = 3

# Layers only some workloads drive; the others report them as zero.
LAYER_DEFAULTS = {
    "sink.files": 0,
    "sink.bytes_per_record": 0.0,
    "sink.checkpoint_bytes": 0,
    "etl.rows_in": 0,
    "etl.rows_curated": 0,
    "etl.rows_dead_letter": 0,
    "etl.yield_ratio": 0.0,
    "load.backlog_files_end": 0,
    "dashboard.persistent_rdds_after": 0,
}


_T0 = time.monotonic()


def log(msg: str) -> None:
    """Progress on stderr; stdout belongs to run.py's result."""
    print(f"[perfbench {time.monotonic() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, event_log: bool):
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", cpus=cpus(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def git_commit(root: str) -> str:
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return "unknown"


def run(args) -> dict:
    work = os.getcwd()
    tracer = Tracer()
    wl = WORKLOADS[args.workload](work, args.seed, args.seconds, args.tiny, tracer)
    wl.prepare()
    log("inputs ready")

    setups, starts, warms = [], [], []
    spark = None
    for i in range(SETUPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        with tracer.span("session.get_spark", setup=i):
            spark = start_session(work, args.trace and i == SETUPS - 1)
        t1 = time.perf_counter()
        with tracer.span("warm_up", setup=i):
            wl.warm_up(spark, i)
        t2 = time.perf_counter()
        log(f"set-up {i}: session {t1 - t0:.2f}s, warm-up {t2 - t1:.2f}s")
        setups.append(t2 - t0)
        starts.append(t1 - t0)
        warms.append(t2 - t1)

    sc = spark.sparkContext
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    log("measuring")
    wl.measure(spark)
    log("checking")
    wl.check(spark, args.corrupt_sink)
    log("checked")
    end_to_end = {
        "setup_s": statistics.median(setups),
        "peak_rss_mb": peak_rss_mb(os.getpid()) + peak_rss_mb(jvm_pid),
        **wl.end_to_end(),
    }
    parallelism = sc.defaultParallelism
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "master": sc.master,
        "defaultParallelism": parallelism,
        "nproc": cpus(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "commit": git_commit(args.root),
    }
    persistent_left = persistent_rdds(spark)
    spark.stop()

    report = dict(wl.report)
    report["error_ratio"] = wl.failed / max(wl.attempted, 1)
    report.update({f"wrong.{k}": v for k, v in wl.wrong.items() if v})
    per_layer: dict[str, float] = {}
    events = EventLog(os.path.join(work, "eventlog")) if args.trace else None
    for rec in getattr(wl, "per_query", []):
        key = f"registry.{rec['query']}.{'cold' if rec['pass'] == 0 else 'warm'}"
        report[f"{key}.call_s"] = rec["call_s"]
        report[f"{key}.write_s"] = rec["write_s"]
        if args.trace:
            b = call_breakdown(events, rec["span"])
            report.update({
                f"{key}.jobs": b["jobs"],
                f"{key}.task_time_s": b["task_time_s"],
                f"{key}.driver_gap_s": b["driver_gap_s"],
            })
    if args.trace:
        per_layer.update(LAYER_DEFAULTS)
        per_layer.update(wl.layer_counts())
        per_layer.update(wl.extra)
        per_layer.update(layer_metrics(events, wl.calls, wl.windows, parallelism))
        per_layer.update({
            "session.start_s": starts[0],
            "session.warmup_s": statistics.median(warms),
            "load.lag_max_s": max(wl.lags, default=0.0),
            "load.lag_p90_s": quantile(wl.lags, 0.9),
            "leak.persistent_rdds_left": persistent_left,
        })
        tracer.write(os.path.join(work, "spans.json"))
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "end_to_end": end_to_end,
        "per_layer": per_layer,
        "report": report,
        "env": env,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt-sink", action="store_true")
    ap.add_argument("--root", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    result = run(args)
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
