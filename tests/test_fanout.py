"""run_pipeline's one-write fan-out (streaming/pipeline.py): each row is
tagged with its sinks, the batch is written once partitioned by sink
under the checkpoint, and the driver moves each partition to
``<sink>/batch_id=N``. These tests pin the sink contract (the union
schema, schema-only files for sinks a batch does not reach, no staging
left behind), one Spark job per batch, the observed per-batch metrics,
and replay after a crash between two moves.
"""

from __future__ import annotations

import glob
import os
import time

import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException

from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.schemas import (
    PROFILE_COLUMNS,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.sources.synthetic import (
    write_envelopes_jsonl,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.streaming import (
    pipeline,
)

UNION_COLUMNS = PROFILE_COLUMNS + ["_corrupt_record"]
WRITERS_CONF = "spark.sql.maxConcurrentOutputFileWriters"
SINKS = ("curated", "serving", "dead")


def _land(src: str, files: list[tuple[str, list[str] | int]]) -> None:
    """One envelope file per micro-batch, mtimes 10 s apart so the file
    source reads them in order. An int is the `malformed_every` of a
    90-envelope file; a list is the file's raw lines."""
    t0 = time.time() - 100
    for i, (name, body) in enumerate(files):
        path = os.path.join(src, name)
        if isinstance(body, int):
            write_envelopes_jsonl(path, 90, malformed_every=body, start=1 + 1000 * i)
        else:
            with open(path, "w") as fh:
                fh.writelines(line + "\n" for line in body)
        os.utime(path, (t0 + 10 * i, t0 + 10 * i))


def _start(spark, src: str, out: str):
    source = pipeline.read_envelope_file_stream(spark, src, max_files_per_trigger=1)
    return pipeline.run_pipeline(
        spark,
        source,
        [os.path.join(out, "curated"), os.path.join(out, "serving")],
        os.path.join(out, "ckpt"),
        dead_letter_dir=os.path.join(out, "dead"),
    )


def _files(out: str, sink: str, batch: int) -> list[str]:
    return glob.glob(os.path.join(out, sink, f"batch_id={batch}", "*.parquet"))


def _rows(spark, out: str, sink: str) -> list[tuple]:
    df = spark.read.parquet(os.path.join(out, sink))
    return sorted(
        (tuple(r) for r in df.select("batch_id", *UNION_COLUMNS).collect()),
        key=repr,
    )


@pytest.fixture(scope="module")
def three_batches(spark, tmp_path_factory):
    """Batch 0 mixes good and malformed envelopes, batch 1 is all good,
    batch 2 all malformed."""
    root = tmp_path_factory.mktemp("fanout")
    src, out = str(root / "src"), str(root / "out")
    os.makedirs(src)
    _land(src, [("mixed.jsonl", 9), ("good.jsonl", 0),
                ("bad.jsonl", ['{"results": [oops'] * 3)])
    writers_before = spark.conf.get(WRITERS_CONF)
    q = _start(spark, src, out)
    pipeline.drain(q, "fan-out contract")
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    return {
        "out": out,
        "progress": q.recentProgress,
        "jobs": len(jobs),
        "writers": (writers_before, spark.conf.get(WRITERS_CONF)),
    }


def test_every_sink_gets_the_union_schema(spark, three_batches):
    out = three_batches["out"]
    for sink in SINKS:
        assert spark.read.parquet(os.path.join(out, sink)).columns == UNION_COLUMNS + [
            "batch_id"
        ]
        for f in glob.glob(os.path.join(out, sink, "batch_id=*", "*.parquet")):
            assert pq.read_schema(f).names == UNION_COLUMNS
    profiles = [spark.read.parquet(os.path.join(out, s)) for s in ("curated", "serving")]
    dead = spark.read.parquet(os.path.join(out, "dead"))
    for p in profiles:
        assert p.count() > 0
        assert p.filter("_corrupt_record IS NOT NULL").count() == 0
        assert p.filter("id IS NULL").count() == 0
    assert dead.count() == 10 + 3
    null_profile = " AND ".join(f"{c} IS NULL" for c in PROFILE_COLUMNS)
    assert dead.filter(null_profile).count() == dead.count()
    assert dead.filter("_corrupt_record IS NULL").count() == 0
    assert _rows(spark, out, "curated") == _rows(spark, out, "serving")


def test_sinks_a_batch_does_not_reach_get_a_schema_only_file(three_batches):
    out = three_batches["out"]
    empty = [("dead", 1), ("curated", 2), ("serving", 2)]
    for sink, batch in empty:
        files = _files(out, sink, batch)
        assert len(files) == 1, (sink, batch)
        meta = pq.read_metadata(files[0])
        assert meta.num_rows == 0 and meta.schema.names == UNION_COLUMNS
    for sink in SINKS:
        for batch in range(3):
            assert os.path.isfile(os.path.join(out, sink, f"batch_id={batch}", "_SUCCESS"))
            if (sink, batch) not in empty:
                assert sum(pq.read_metadata(f).num_rows for f in _files(out, sink, batch))


def test_no_staging_left_and_caller_conf_unchanged(three_batches):
    ckpt = os.path.join(three_batches["out"], "ckpt")
    assert not os.path.exists(os.path.join(ckpt, pipeline.FANOUT_STAGING))
    before, after = three_batches["writers"]
    assert before == after


def test_one_spark_job_per_batch(three_batches):
    # batch 0 reaches every sink: the one partitioned write. Batch 1
    # leaves the dead-letter sink empty and batch 2 both profile sinks:
    # one schema-only write each.
    assert len(three_batches["progress"]) == 3
    assert three_batches["jobs"] == 1 + (1 + 1) + (1 + 2)


def test_observed_metrics_match_the_sinks(spark, three_batches):
    out = three_batches["out"]
    fanout = [p["observedMetrics"]["fanout"] for p in three_batches["progress"]]
    assert [(m.curated > 0, m.dead_letter > 0) for m in fanout] == [
        (True, True), (True, False), (False, True)
    ]
    for m in fanout:
        assert m.rows_in == m.curated + m.dead_letter
    curated = sum(m.curated for m in fanout)
    for sink in ("curated", "serving"):
        assert spark.read.parquet(os.path.join(out, sink)).count() == curated
    assert spark.read.parquet(os.path.join(out, "dead")).count() == sum(
        m.dead_letter for m in fanout
    )


@pytest.fixture(scope="module")
def replay_src(spark, tmp_path_factory):
    """Two mixed batches and the sinks of a clean run over them."""
    root = tmp_path_factory.mktemp("fanout_replay")
    src, clean = str(root / "src"), str(root / "clean")
    os.makedirs(src)
    _land(src, [("b0.jsonl", 9), ("b1.jsonl", 7)])
    pipeline.drain(_start(spark, src, clean), "clean fan-out")
    return src, {s: _rows(spark, clean, s) for s in SINKS}


@pytest.mark.parametrize("k", [0, 1, 2])
def test_crash_between_moves_replays_to_a_clean_result(
    spark, replay_src, tmp_path, monkeypatch, k
):
    """Batch 1 fails after k of its 3 moves. The restart from the same
    checkpoint replays it, and every sink equals the clean run's."""
    src, clean = replay_src
    out = str(tmp_path / "out")
    real_move, moved = pipeline._move, []

    def crashing_move(*args):
        if len(moved) == len(SINKS) + k:
            raise RuntimeError(f"crash after move {k} of batch 1")
        moved.append(args)
        real_move(*args)

    monkeypatch.setattr(pipeline, "_move", crashing_move)
    with pytest.raises(StreamingQueryException):
        pipeline.drain(_start(spark, src, out), "crashing fan-out")
    assert [len(_files(out, s, 1)) > 0 for s in SINKS] == [i < k for i in range(3)]

    monkeypatch.setattr(pipeline, "_move", real_move)
    pipeline.drain(_start(spark, src, out), "restarted fan-out")
    for sink in SINKS:
        assert _rows(spark, out, sink) == clean[sink], sink
    for sink in ("curated", "serving"):
        ids = [r[1] for r in _rows(spark, out, sink)]
        assert len(ids) == len(set(ids))
    assert not os.path.exists(os.path.join(out, "ckpt", pipeline.FANOUT_STAGING))
