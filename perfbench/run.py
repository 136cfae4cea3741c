"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_backfill --seed 1 --seconds 12 --trace 0

Run from the repository root. Each run starts one worker process
(perfbench/worker.py) with its own fresh TMPDIR and SPARK_LOCAL_DIRS
under ``.perfbench_runs/``, so no run reuses another's build-once
artifacts or cached blocks. The worker's process group (it and the
Spark JVM) is stopped and waited for before this script exits, and the
run directory is removed after its leftovers are measured.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json.
``--trace 1`` runs the workload twice with the same seed, untraced then
with Spark's event log on, and prints the per-layer metrics of the
traced run plus ``trace.overhead_ratio`` (untraced throughput over
traced throughput). The spans of the traced run are kept in
``.perfbench_runs/<workload>-seed<seed>.spans.json``.

The last line of stdout is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. Lines before it, starting
with ``#``, echo the run environment and the workload's report
(including ``error_ratio``, which is ``failed / attempted``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark"
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
DEADLINE_S = 170
DRIVER_MEMORY = "2g"


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _group_members(pgid: int) -> list[int]:
    """Live (non-zombie) processes in a process group."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            pids.append(int(entry))
    return pids


def stop_group(pgid: int) -> None:
    """Terminate a process group and wait until every member is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 10
        while _group_members(pgid):
            if time.monotonic() > deadline:
                break
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
            time.sleep(0.2)
        else:
            return
    if _group_members(pgid):
        raise RuntimeError(f"processes of group {pgid} survived SIGKILL")


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def run_worker(args, traced: bool, deadline: float) -> dict | None:
    work = os.path.join(RUNS_DIR, f"{args.workload}-{args.seed}-{os.getpid()}-{int(traced)}")
    shutil.rmtree(work, ignore_errors=True)
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn256m",
    )
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--root", ROOT, "--out", out,
    ]
    cmd += ["--trace"] * traced + ["--tiny"] * args.tiny + ["--corrupt-sink"] * args.corrupt_sink
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(deadline - time.monotonic(), 1))
    except subprocess.TimeoutExpired:
        print(f"worker exceeded the {DEADLINE_S} s deadline", file=sys.stderr)
        rc = None
    finally:
        stop_group(proc.pid)
        proc.wait()
    try:
        if rc != 0 or not os.path.exists(out):
            print(f"worker failed with exit code {rc}", file=sys.stderr)
            return None
        with open(out) as fh:
            result = json.load(fh)
        result["per_layer"]["leak.tmp_left_bytes"] = dir_bytes(tmp)
        if traced:
            shutil.copy(
                os.path.join(work, "spans.json"),
                os.path.join(RUNS_DIR, f"{args.workload}-seed{args.seed}.spans.json"),
            )
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, ENGINE)) or not os.path.isfile(
        os.path.join(ROOT, "tools", "oracle_check.py")
    ):
        print(f"{ENGINE} and tools/oracle_check.py must sit beside perfbench/", file=sys.stderr)
        return 2
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    ap.add_argument("--corrupt-sink", action="store_true",
                    help="corrupt one output row before the checks (smoke test)")
    args = ap.parse_args(argv)

    deadline = time.monotonic() + DEADLINE_S
    results = []
    for traced in ((False, True) if args.trace else (False,)):
        r = run_worker(args, traced, deadline)
        if r is None:
            return 1
        results.append(r)

    if args.trace:
        values = dict(results[1]["per_layer"])
        values["trace.overhead_ratio"] = (
            results[0]["end_to_end"]["throughput_per_s"]
            / results[1]["end_to_end"]["throughput_per_s"]
        )
        wanted = spec["per_layer"]
    else:
        values = results[0]["end_to_end"]
        wanted = spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"metrics not produced: {missing}", file=sys.stderr)
        return 1

    for r in results:
        print("# env " + json.dumps(r["env"]))
        for k, v in {**r["end_to_end"], **r["report"]}.items():
            print(f"# {k} = {v}")
    print(json.dumps({
        "correct": all(r["correct"] for r in results),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
