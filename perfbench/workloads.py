"""The three workloads. Each one owns its inputs, its warm-up (part of
set-up), its measured loop, and the checks of its outputs.

Every call into the engine is wrapped in a span named after the public
function it enters, so the traced run can attribute Spark jobs to
layers (trace.py).
"""

from __future__ import annotations

import glob
import os
import shutil
import threading
import time

from pyspark.sql import SparkSession

from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.plans import (
    ORACLES,
    QUERIES,
    dashboard,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.streaming import (
    pipeline,
)

from . import checks, inputs
from .run import dir_bytes
from .trace import Tracer, quantile


def persistent_rdds(spark: SparkSession) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def data_files(sink_dir: str) -> list[str]:
    return glob.glob(os.path.join(sink_dir, "batch_id=*", "*.parquet"))


class Workload:
    """Shared bookkeeping. Subclasses fill ``calls`` (the spans of the
    looped public call), ``windows`` (when the engine was driven),
    ``lags`` (how late the benchmark issued each piece of work against
    its due time), ``attempted``/``wrong`` and ``report``."""

    name = ""

    def __init__(self, work: str, seed: int, seconds: float, tiny: bool, tracer: Tracer):
        self.work, self.seed, self.seconds, self.tiny = work, seed, seconds, tiny
        self.tracer = tracer
        self.calls: list[dict] = []
        self.windows: list[tuple[float, float]] = []
        self.lags: list[float] = []
        self.attempted = 0
        self.errors = 0
        self.wrong: dict[str, int] = {}
        self.report: dict[str, float] = {}
        self.extra: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        """A path under the run directory, its parent created."""
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    @property
    def failed(self) -> int:
        return min(self.errors + sum(self.wrong.values()), self.attempted)

    def prepare(self) -> None:
        """Untimed input generation needed before set-up."""

    def warm_up(self, spark: SparkSession, i: int) -> None:
        raise NotImplementedError

    def measure(self, spark: SparkSession) -> None:
        raise NotImplementedError

    def check(self, spark: SparkSession, corrupt: bool) -> None:
        raise NotImplementedError

    def end_to_end(self) -> dict[str, float]:
        raise NotImplementedError

    def layer_counts(self) -> dict[str, float]:
        """Per-layer counts the workload's own files can give."""
        return {}


# -- ingest ----------------------------------------------------------
class _Ingest(Workload):
    """Shared by the two envelope-ingest workloads: a seeded feed, the
    three sinks of ``run_pipeline`` and their checks."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.feed = inputs.EnvelopeFeed(self.seed)
        self.src = self.path("stream", "src", "")
        self.staging = self.path("stream", "staging", "")
        self.ckpt = self.path("stream", "checkpoint")
        self.curated = self.path("stream", "curated")
        self.serving = self.path("stream", "serving")
        self.dead = self.path("stream", "dead_letter")

    def generate(self, files: int, lines: int, prefix: str) -> list[str]:
        names = []
        with self.tracer.span("sources.synthetic.envelope_dict", envelopes=files * lines):
            for f in range(files):
                name = f"{prefix}-{f:05d}.jsonl"
                inputs.write_lines(os.path.join(self.staging, name), self.feed.lines(lines))
                names.append(name)
        return names

    def start(self, spark, available_now: bool, max_files: int | None):
        with self.tracer.span("streaming.pipeline.read_envelope_file_stream"):
            source = pipeline.read_envelope_file_stream(
                spark, self.src, max_files_per_trigger=max_files
            )
        return pipeline.run_pipeline(
            spark, source, [self.curated, self.serving], self.ckpt,
            dead_letter_dir=self.dead, available_now=available_now,
        )

    def warm_drain(self, spark, i: int, files: int, lines: int) -> str:
        """A small availableNow drain into throw-away sinks and
        checkpoint, from a key range the measured feed never uses."""
        wdir = self.path(f"warm{i}", "")
        src = os.path.join(wdir, "src")
        os.makedirs(src, exist_ok=True)
        feed = inputs.EnvelopeFeed(self.seed, offset=5_000_000 + i * 100_000)
        for f in range(files):
            inputs.write_lines(os.path.join(src, f"w{f}.jsonl"), feed.lines(lines))
        source = pipeline.read_envelope_file_stream(spark, src, max_files_per_trigger=1)
        q = pipeline.run_pipeline(
            spark, source, [os.path.join(wdir, "a"), os.path.join(wdir, "b")],
            os.path.join(wdir, "ck"), dead_letter_dir=os.path.join(wdir, "dl"),
        )
        q.awaitTermination()
        return wdir

    def check_sinks(self, corrupt: bool) -> None:
        if corrupt:
            corrupt_one_row(self.curated)
        self.wrong.update(
            checks.check_ingest(
                self.feed.good_keys, self.feed.malformed,
                [self.curated, self.serving], self.dead,
            )
        )

    def layer_counts(self) -> dict[str, float]:
        import pyarrow.parquet as pq

        files = data_files(self.curated) + data_files(self.serving) + data_files(self.dead)
        def rows(sink):
            return sum(pq.ParquetFile(f).metadata.num_rows for f in data_files(sink))

        curated = rows(self.curated)
        return {
            "sink.files": len(files),
            "sink.bytes_per_record": sum(os.path.getsize(f) for f in files)
            / max(self.feed.published, 1),
            "sink.checkpoint_bytes": dir_bytes(self.ckpt),
            "etl.rows_in": self.feed.published,
            "etl.rows_curated": curated,
            "etl.rows_dead_letter": rows(self.dead),
            "etl.yield_ratio": curated / max(self.feed.published, 1),
        }


def corrupt_one_row(sink_dir: str) -> None:
    """Rewrite one sink file with one value changed, the way a faulty
    sink write would. Used by the smoke test of the checks."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = sorted(data_files(sink_dir))[0]
    t = pq.read_table(f)
    i = t.schema.get_field_index("username")
    names = t.column(i).to_pylist()
    names[0] = "corrupted"
    t = t.set_column(i, t.schema.field(i), pa.array(names, t.schema.field(i).type))
    pq.write_table(t, f)


class IngestBackfill(_Ingest):
    """Closed loop: drain a seeded backlog with ``availableNow``, one
    round after another on the same checkpoint, until the run's time
    is up. The backlog of each round is published at once, so every
    file is due when the round starts."""

    name = "ingest_backfill"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.files, self.lines, self.max_files = (2, 200, 1) if self.tiny else (10, 2000, 2)
        self.batch_s: list[float] = []

    def warm_up(self, spark, i):
        # the first set-up warms the JIT; later ones only prove the
        # restarted session drains
        files, lines = (2, 500) if i == 0 else (1, 200)
        wdir = self.warm_drain(spark, i, files, 100 if self.tiny else lines)
        shutil.rmtree(wdir)

    def measure(self, spark):
        t_begin = time.time()
        rnd = 0
        while True:
            names = self.generate(self.files, self.lines, f"r{rnd:03d}")
            due = time.time()
            for n in names:
                os.replace(os.path.join(self.staging, n), os.path.join(self.src, n))
                self.lags.append(time.time() - due)
            with self.tracer.span("streaming.pipeline.run_pipeline", round=rnd) as s:
                try:
                    q = self.start(spark, True, self.max_files)
                    q.awaitTermination()
                    self.batch_s += [p["durationMs"]["triggerExecution"] / 1000
                                     for p in q.recentProgress]
                except Exception as e:  # noqa: BLE001 - count, keep measuring
                    print(f"round {rnd} failed: {e!r}")
                    self.errors += 1
            self.calls.append(s)
            self.windows.append((s["start"], s["end"]))
            rnd += 1
            if time.time() - t_begin >= self.seconds:
                break
        self.attempted = self.feed.published

    def check(self, spark, corrupt):
        self.check_sinks(corrupt)

    def end_to_end(self):
        wall = sum(s["end"] - s["start"] for s in self.calls)
        return {
            "throughput_per_s": self.feed.published / wall,
            "latency_p50_s": quantile(self.batch_s, 0.5),
            "latency_p90_s": quantile(self.batch_s, 0.9),
        }


class LiveDashboard(_Ingest):
    """Open loop: a generator thread publishes one envelope file every
    ``interval`` seconds by atomic rename, each stamped with its due
    time, while ``run_pipeline`` runs on the default trigger and one
    closed-loop client re-polls ``plans.dashboard.refresh`` over the
    growing serving sink."""

    name = "live_dashboard"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.interval, self.lines = 0.5, 20 if self.tiny else 200
        self.published: list[tuple[str, float, float]] = []
        self.freshness: list[float] = []
        self.refresh_s: list[float] = []

    def prepare(self):
        n = max(int(round(self.seconds / self.interval)), 2)
        self.names = self.generate(n, self.lines, "live")

    def warm_up(self, spark, i):
        # the first set-up also warms the refresh path's JIT; later ones
        # only prove the restarted session drains
        wdir = self.warm_drain(spark, i, 1, 100 if self.tiny else 200)
        if i == 0:
            views = dashboard.refresh(spark.read.parquet(os.path.join(wdir, "b")))
            for df in views.values():
                df.unpersist()
        shutil.rmtree(wdir)

    def _generate(self, t0: float) -> None:
        for i, name in enumerate(self.names):
            due = t0 + i * self.interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            os.replace(os.path.join(self.staging, name), os.path.join(self.src, name))
            self.published.append((name, due, time.time()))

    def measure(self, spark):
        with self.tracer.span("streaming.pipeline.run_pipeline"):
            q = self.start(spark, False, None)
            try:
                t_end = self._poll(spark)
            finally:
                q.processAllAvailable()
                q.stop()
        self.lags = [pub - due for _, due, pub in self.published]
        self._freshness(t_end)
        self.attempted = self.feed.published + len(self.calls)

    def _poll(self, spark) -> float:
        """Publish on schedule from a thread and re-poll the dashboard
        from this one until the last file is due; returns that time."""
        sc = spark.sparkContext
        t0 = time.time()
        t_end = t0 + len(self.names) * self.interval
        gen = threading.Thread(target=self._generate, args=(t0,), daemon=True)
        gen.start()
        previous, k = None, 0
        try:
            while time.time() < t_end:
                if not data_files(self.serving):
                    time.sleep(0.02)
                    continue
                group = f"refresh:{k}"
                sc.setJobGroup(group, "plans.dashboard.refresh")
                with self.tracer.span("plans.dashboard.refresh", group=group) as s:
                    try:
                        previous = dashboard.refresh(spark.read.parquet(self.serving), previous)
                    except Exception as e:  # noqa: BLE001 - count, keep polling
                        print(f"refresh {k} failed: {e!r}")
                        self.errors += 1
                self.calls.append(s)
                self.refresh_s.append(s["end"] - s["start"])
                k += 1
            self.extra["dashboard.persistent_rdds_after"] = persistent_rdds(spark)
        finally:
            sc.setJobGroup("benchmark", "after the measured window")
            gen.join()
            self.windows.append((t0, max(time.time(), t_end)))
            for df in (previous or {}).values():
                df.unpersist()
        return t_end

    def _freshness(self, t_end: float) -> None:
        """Due time of each file to the commit of the batch that read
        it. The file → batch map comes from the source log, whose
        ``.compact`` files hold every entry up to their batch."""
        import json

        batch_of = {}
        for f in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            with open(f) as fh:
                for line in fh:
                    if line.startswith("{"):
                        e = json.loads(line)
                        batch_of[os.path.basename(e["path"])] = e["batchId"]
        backlog = 0
        for name, due, _ in self.published:
            b = batch_of.get(name)
            commit = os.path.join(self.ckpt, "commits", str(b))
            if b is None or not os.path.exists(commit):
                self.errors += 1
                continue
            done = os.stat(commit).st_mtime
            self.freshness.append(done - due)
            backlog += done > t_end
        self.extra["load.backlog_files_end"] = backlog

    def check(self, spark, corrupt):
        self.check_sinks(corrupt)
        spark.sparkContext.setJobGroup("check", "final refresh")
        views = dashboard.refresh(spark.read.parquet(self.serving))
        try:
            self.wrong.update(
                {f"view.{k}": v for k, v in checks.check_dashboard(views, self.serving).items()}
            )
        finally:
            for df in views.values():
                df.unpersist()

    def end_to_end(self):
        self.report.update({
            "dashboard.refresh_p50_s": quantile(self.refresh_s, 0.5),
            "dashboard.refresh_p90_s": quantile(self.refresh_s, 0.9),
            "dashboard.refreshes": len(self.refresh_s),
            "live.files": len(self.freshness),
        })
        return {
            "throughput_per_s": len(self.refresh_s) / sum(self.refresh_s),
            "latency_p50_s": quantile(self.freshness, 0.5),
            "latency_p90_s": quantile(self.freshness, 0.9),
        }


# -- curation --------------------------------------------------------
CURATION_QUERIES = ["streaming_decontamination_gate", "ann_ivf_topk"]
WARMUP_QUERIES = ["text_stats", "cosine_topk"]
DOCS = 100


class CurationMix(Workload):
    """Closed loop, one caller: the registry's streaming decontamination
    gate and ANN queries over a seeded corpus, each followed by a
    ``noop`` write. The first pass is cold (fresh TMPDIR, empty module
    caches); later passes hit the build-once artifacts and caches."""

    name = "curation_mix"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.sf = self.path("corpus", "")
        self.per_query: list[dict] = []
        self.results: dict[str, tuple[list, list]] = {}

    def prepare(self):
        n = 60 if self.tiny else DOCS
        inputs.write_corpus(self.sf, self.seed, n, 2 * n)

    def warm_up(self, spark, i):
        spark.sparkContext.setJobGroup("warmup", "warm-up shapes")
        for name in WARMUP_QUERIES:
            QUERIES[name](spark, self.sf).write.format("noop").mode("overwrite").save()

    def measure(self, spark):
        sc = spark.sparkContext
        t0 = time.time()
        p = 0
        while p < 2 or time.time() - t0 < self.seconds:
            for name in CURATION_QUERIES:
                group = f"registry:{p}:{name}"
                sc.setJobGroup(group, name)
                rec = {"query": name, "pass": p}
                # attributed by time, not group: the gate's stream jobs
                # carry the stream's group, and nothing else runs meanwhile
                with self.tracer.span(f"plans.registry.{name}", cold=p == 0) as s:
                    try:
                        with self.tracer.span("plans.QUERIES") as c:
                            df = QUERIES[name](spark, self.sf)
                        with self.tracer.span("noop_write") as w:
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as e:  # noqa: BLE001 - count, keep going
                        print(f"{name} pass {p} failed: {e!r}")
                        self.errors += 1
                        df = None
                self.calls.append(s)
                rec.update(span=s, call_s=c["end"] - c["start"],
                           write_s=(w["end"] - w["start"]) if df is not None else 0.0)
                self.per_query.append(rec)
                self.attempted += 1
                if df is not None and p >= 1:
                    # collected now, outside the timed call, because a
                    # query's output may read state its next call
                    # replaces; the latest warm result is checked
                    sc.setJobGroup("check", name)
                    self.results[name] = (df.columns, [tuple(r) for r in df.collect()])
            p += 1
        # the check collects between calls are not part of the window
        self.windows = [(s["start"], s["end"]) for s in self.calls]
        sc.setJobGroup("benchmark", "after the measured window")

    def check(self, spark, corrupt):
        """Each query's latest warm result against ``plans.ORACLES``; a
        query with no result (every warm call raised) counts as wrong."""
        oracle = checks.RegistryOracle(self.sf)
        try:
            for name in CURATION_QUERIES:
                if name not in self.results:
                    self.wrong[name] = 1
                    continue
                cols, rows = self.results[name]
                if corrupt and rows:
                    rows = [tuple("corrupted" for _ in rows[0])] + rows[1:]
                self.wrong[name] = int(oracle.wrong(ORACLES[name], cols, rows))
        finally:
            oracle.close()

    def passes(self) -> dict[int, float]:
        out: dict[int, float] = {}
        for r in self.per_query:
            s = r["span"]
            out[r["pass"]] = out.get(r["pass"], 0.0) + s["end"] - s["start"]
        return out

    def end_to_end(self):
        walls = [s["end"] - s["start"] for s in self.calls]
        passes = self.passes()
        self.report.update({"curation.cold_s": passes[0], "curation.warm_s": passes[1]})
        return {
            "throughput_per_s": len(walls) / sum(walls),
            "latency_p50_s": quantile(walls, 0.5),
            "latency_p90_s": quantile(walls, 0.9),
        }


WORKLOADS = {w.name: w for w in (IngestBackfill, LiveDashboard, CurationMix)}
