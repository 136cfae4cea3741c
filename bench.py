"""Benchmark harness: runs the engine's full query registry at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON line.

Each query materializes through the `noop` sink so the full plan
executes (a bare .count() would let Catalyst prune most of the work).

Per-query timings are written to BENCH_DETAIL_r{N}.json in the repo
root (the driver's stdout tail capture is ~2000 chars, so the final
printed line carries only the headline numbers, the regression list,
and the slowest queries — the full per-query map lives in the detail
file and is committed with the round's work).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HERE = os.path.dirname(os.path.abspath(__file__))


def _round_number() -> int:
    """Next round number = max recorded BENCH_r{N}.json + 1 (driver
    writes BENCH_r{N}.json after this script runs in round N)."""
    rounds = [0]
    for f in os.listdir(HERE):
        m = re.match(r"BENCH(?:_DETAIL)?_r(\d+)\.json$", f)
        if m:
            rounds.append(int(m.group(1)))
    return max(rounds) + 1


def _previous_timings(
    sf: float | str,
) -> tuple[dict[str, float], dict[str, dict]]:
    """Most recent (per-query map, per-query phase map): prefer
    BENCH_DETAIL_r*.json (full coverage incl. phase_timings), fall
    back to the driver-recorded BENCH_r*.json whose 'parsed' payload
    carried the map before round 3."""
    candidates: list[tuple[int, str]] = []
    for f in os.listdir(HERE):
        m = re.match(r"BENCH_DETAIL_r(\d+)\.json$", f)
        if m:
            candidates.append((int(m.group(1)), f))
    if not candidates:
        for f in os.listdir(HERE):
            m = re.match(r"BENCH_r(\d+)\.json$", f)
            if m:
                candidates.append((int(m.group(1)), f))
    if not candidates:
        return {}, {}
    _, latest = max(candidates)
    try:
        with open(os.path.join(HERE, latest)) as fh:
            doc = json.load(fh)
        payload = doc.get("parsed") or doc
        # never compare timings across scale factors (a local sf0.01
        # iteration run must not flag vs the driver's sf0.1 round)
        if "sf" in payload and payload["sf"] != sf:
            return {}, {}
        return (
            payload.get("queries", {}) or {},
            payload.get("phase_timings", {}) or {},
        )
    except (OSError, ValueError):
        return {}, {}


def _phase_mins(ph: dict) -> tuple[float, float] | None:
    """(engine_owned, stream) minima across a query's recorded passes:
    engine_owned = build + fold (code-owned, stable under load);
    stream = the micro-batch wall (scheduler-cadence dominated)."""
    passes = [p for p in ph.values() if p and "stream" in p]
    if not passes:
        return None
    return (
        min(p.get("build", 0.0) + p.get("fold", 0.0) for p in passes),
        min(p["stream"] for p in passes),
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.plans import (
        QUERIES,
    )
    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.session import (
        get_spark,
    )

    # keep stdout to exactly one JSON line — no stage-progress bars
    spark = get_spark(
        "bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    # the parallelism the numbers were measured under
    master = spark.sparkContext.master
    default_parallelism = spark.sparkContext.defaultParallelism

    # FIXED warmup set: one query per major plan
    # shape (scan-agg, broadcast-join chain, window, text shuffle,
    # vector math) so first-measured queries don't pay cold
    # JIT/codegen for their whole operator class
    for wname in (
        "total_users",
        "pricing_summary",
        "customer_order_rank",
        "text_stats",
        "cosine_topk",
    ):
        QUERIES[wname](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # full-registry coverage: every queries() entry is benched, so
    # regressions in the long tail are caught by the >1.3x gate below.
    # TWO full passes; per query keep the MIN and record the spread —
    # a uniform machine drift inflates both passes equally, so the
    # min-of-2 comparison vs the previous round is drift-immune and
    # the spread map shows how noisy the box was.
    names = list(QUERIES)

    # lifecycle streams record per-phase walls (build/stream/fold)
    # into PHASE_TIMINGS on each invocation — the
    # snapshot from each pass rides along so the drift analysis can
    # attribute variance to a phase instead of flagging totals
    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.plans.registry import (
        PHASE_TIMINGS,
    )

    runs: dict[str, list[float]] = {n: [] for n in names}
    phase_runs: dict[str, list] = {n: [] for n in names}
    t_all = time.time()
    for _pass in range(2):
        for name in names:
            PHASE_TIMINGS.pop(name, None)
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs[name].append(round(time.time() - t0, 3))
            phase_runs[name].append(PHASE_TIMINGS.get(name))
    wall_both_passes = round(time.time() - t_all, 3)
    per_query = {n: min(ts) for n, ts in runs.items()}
    # per-query phases: keep BOTH passes (the variance between them
    # is exactly what the phase decomposition attributes)
    phase_timings = {
        n: {f"pass{i}": ph for i, ph in enumerate(ps) if ph}
        for n, ps in phase_runs.items()
        if any(ps)
    }
    spread = {
        n: round((max(ts) - min(ts)) / max(min(ts), 0.001), 3)
        for n, ts in runs.items()
    }
    total = round(sum(per_query.values()), 3)

    # The userfeed/kafka-wire bench entries conflate
    # Python-DataSource envelope GENERATION (the test feeder — a
    # harness artifact replaced by the real Kafka read in production)
    # with the engine's ETL chain. Time the feeder alone through the
    # same noop sink and report the split, so the headline numbers no
    # longer charge Python generation to the engine.
    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.plans.registry import (
        _USERFEED_N,
    )
    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.sources import (
        userfeed,
    )

    def _feeder_secs(df) -> float:
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    kafka_feed = _feeder_secs(userfeed.read_kafka_wire(spark, _USERFEED_N))
    plain_feed = _feeder_secs(
        userfeed.read_envelopes(spark, _USERFEED_N).select("value")
    )
    feeder_split = {
        name: {
            "feeder_only": feed,
            "etl_only_estimate": round(max(0.0, per_query[name] - feed), 3),
        }
        for name, feed in (
            ("kafka_wire_profiles", kafka_feed),
            ("kafka_wire_roundtrip", kafka_feed),
            ("userfeed_profiles", plain_feed),
        )
        if name in per_query
    }

    # apples-to-apples with BASELINE.md: envelope->curated-profile
    # records/second through the full reference transform chain (the
    # reference sustained ~0.153 rec/s, producer-bound)
    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.plans.registry import (
        profiles_df,
    )

    t0 = time.time()
    n_records = profiles_df(spark, sf_dir).count()
    etl_rec_s = round(n_records / (time.time() - t0), 1)

    # round-over-round hygiene, DRIFT-NORMALIZED (the PERF.md ratio-
    # median methodology, encoded): this box drifts uniformly between
    # rounds (measured up to ~1.36x at identical code), so absolute
    # per-query comparison mass-flags on a slow day (139 spurious flags
    # in one run). The median per-query ratio vs the previous detail file
    # IS the machine drift — divide it out, THEN flag what still
    # regressed >1.3x AND >0.5 s (sub-second queries jitter on a warm
    # local JVM; first-pass flags are re-timed once and the min kept,
    # so surviving flags are real per-query regressions, not drift and
    # not scheduler noise).
    sf_raw = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf = float(sf_raw) if sf_raw.replace(".", "").isdigit() else sf_raw

    regressions: dict[str, dict] = {}
    drift = 1.0
    stream_drift = 1.0
    prev, prev_phases = _previous_timings(sf)
    if prev:
        # scalar drift from NON-phase queries only: lifecycle-stream
        # walls are scheduler-cadence dominated and heteroscedastic,
        # so they must neither set nor be judged by the scalar
        # coefficient (a drift of 1.23 once flagged untouched stream
        # code that read at the previous timings when run alone)
        ratios = sorted(
            per_query[n] / prev[n]
            for n in per_query
            if n in prev
            and prev[n] > 0.2
            and per_query[n] > 0
            and n not in phase_timings
        )
        if ratios:
            drift = round(ratios[len(ratios) // 2], 4)

        # stream-tier drift: the median stream-phase ratio across ALL
        # phase-recording queries IS the box's micro-batch cadence
        # shift this run — a loaded box inflates every stream phase
        # together; one query's code regression still stands out
        stream_ratios = []
        for n, ph in phase_timings.items():
            if n not in prev_phases:
                continue
            now_pm, prev_pm = _phase_mins(ph), _phase_mins(prev_phases[n])
            if now_pm and prev_pm and prev_pm[1] > 0.2:
                stream_ratios.append(now_pm[1] / prev_pm[1])
        if len(stream_ratios) >= 3:
            stream_ratios.sort()
            stream_drift = round(
                stream_ratios[len(stream_ratios) // 2], 4
            )
        else:
            stream_drift = drift

        def flagged(name: str, secs: float) -> dict | None:
            """None, or the regression record. Phase-recording
            queries gate on ENGINE-OWNED wall (build+fold, scalar
            drift) and on the stream phase under the stream-tier
            drift — never on the conflated total."""
            if name in phase_timings and name in prev_phases:
                now_pm = _phase_mins(phase_timings[name])
                prev_pm = _phase_mins(prev_phases[name])
                if not now_pm or not prev_pm:
                    return None
                rec = None
                eng_norm = now_pm[0] / drift
                if prev_pm[0] > 0.2 and (
                    eng_norm > 1.3 * prev_pm[0]
                    and eng_norm - prev_pm[0] > 0.5
                ):
                    rec = {"component": "engine_owned(build+fold)"}
                st_norm = now_pm[1] / stream_drift
                if prev_pm[1] > 0.2 and (
                    st_norm > 1.3 * prev_pm[1]
                    and st_norm - prev_pm[1] > 0.5
                ):
                    rec = {
                        "component": (rec or {}).get("component", "")
                        + "+stream"
                    }
                if rec is None:
                    return None
                rec.update(
                    {
                        "prev_engine_owned": prev_pm[0],
                        "now_engine_owned": now_pm[0],
                        "prev_stream": prev_pm[1],
                        "now_stream": now_pm[1],
                        "stream_drift": stream_drift,
                    }
                )
                return rec
            if name not in prev or prev[name] <= 0.2:
                return None
            norm = secs / drift
            if norm > 1.3 * prev[name] and norm - prev[name] > 0.5:
                return {}
            return None

        retime = [
            n for n, s in per_query.items() if flagged(n, s) is not None
        ]
        for name in retime:
            PHASE_TIMINGS.pop(name, None)
            t0 = time.time()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            per_query[name] = min(per_query[name], round(time.time() - t0, 3))
            ph = PHASE_TIMINGS.get(name)
            if ph and name in phase_timings:
                phase_timings[name]["retime"] = ph
        for name, secs in per_query.items():
            rec = flagged(name, secs)
            if rec is not None:
                regressions[name] = {
                    "prev": prev.get(name),
                    "now": secs,
                    "now_drift_normalized": round(secs / drift, 3),
                    **rec,
                }
                # phase attribution for lifecycle streams: a flag
                # whose build/fold phases are stable while the
                # stream phase moved is micro-batch scheduling
                # variance, not an engine regression
                if name in phase_timings:
                    regressions[name]["phases"] = phase_timings[name]

    detail_file: str | None = f"BENCH_DETAIL_r{_round_number():02d}.json"
    detail = {
        "metric": "headline_query_wall_time",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "master": master,
        "default_parallelism": default_parallelism,
        "queries": per_query,
        "etl_records_per_sec": etl_rec_s,
        "baseline_etl_records_per_sec": 0.153,
        "regressions_vs_prev": regressions,
        "drift_coefficient": drift,
        "stream_drift_coefficient": stream_drift,
        "feeder_split": feeder_split,
        "phase_timings": phase_timings,
        "passes": 2,
        "wall_both_passes": wall_both_passes,
        "run_spread": spread,
        "median_spread": sorted(spread.values())[len(spread) // 2],
    }
    if sf == 0.1:  # only the driver's per-round SF produces an artifact
        try:
            with open(os.path.join(HERE, detail_file), "w") as fh:
                json.dump(detail, fh, indent=1, sort_keys=True)
        except OSError:
            detail_file = None
    else:
        detail_file = None

    # the printed `queries` map carries only the slowest 10 — the full
    # per-query map is in the detail file (driver tail capture ~2000ch)
    slowest = dict(sorted(per_query.items(), key=lambda kv: -kv[1])[:10])
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_time",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "master": master,
                "default_parallelism": default_parallelism,
                "n_queries": len(per_query),
                "etl_records_per_sec": etl_rec_s,
                "baseline_etl_records_per_sec": 0.153,
                "queries": slowest,
                "feeder_split": feeder_split,
                "regressions_vs_prev": dict(list(regressions.items())[:8]),
                "n_regressions": len(regressions),
                "drift_coefficient": drift,
                "stream_drift_coefficient": stream_drift,
                "passes": 2,
                "median_spread": sorted(spread.values())[len(spread) // 2],
                "detail_file": detail_file,
            }
        )
    )


if __name__ == "__main__":
    main()
