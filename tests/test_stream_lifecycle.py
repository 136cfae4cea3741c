"""The registry's micro-batch stream lifecycle — stage → start → drain —
is written once (plans/registry.py: _work_dir, _stage_batches,
_stream_run; streaming/pipeline.py: start_gate, drain). These tests pin
its contract: a timed-out drain never lets a partial sink through, the
micro-batch frame (nonempty_batch) skips empty batches and always
unpersists, staged relations replay as ordered micro-batches, and the
stream queries leave no scratch dirs behind.
"""

from __future__ import annotations

import os
import tempfile

import pytest

from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.plans import (
    registry,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.streaming.pipeline import (
    drain,
    nonempty_batch,
    start_gate,
)


class _FakeQuery:
    def __init__(self, terminated: bool, error=None):
        self._terminated = terminated
        self._error = error
        self.stopped = False

    def awaitTermination(self, timeout):
        return self._terminated

    def stop(self):
        self.stopped = True

    def exception(self):
        return self._error


def test_drain_stops_and_raises_on_timeout():
    q = _FakeQuery(terminated=False)
    with pytest.raises(TimeoutError, match="chunk-dedup stream"):
        drain(q, "chunk-dedup")
    assert q.stopped


def test_drain_timeout_carries_the_query_error():
    q = _FakeQuery(terminated=False, error="boom in batch 1")
    with pytest.raises(TimeoutError, match="boom in batch 1"):
        drain(q, "decontamination")
    assert q.stopped


def test_drain_leaves_a_finished_query_alone():
    q = _FakeQuery(terminated=True)
    drain(q, "pii-redact")
    assert not q.stopped


class _FakeBatch:
    def __init__(self, n_rows: int):
        self.n_rows = n_rows
        self.calls: list[str] = []

    def persist(self):
        self.calls.append("persist")
        return self

    def count(self):
        self.calls.append("count")
        return self.n_rows

    def unpersist(self):
        self.calls.append("unpersist")
        return self


def test_frame_skips_an_empty_batch_and_unpersists():
    seen = []
    batch = _FakeBatch(0)
    nonempty_batch(lambda df, bid: seen.append(bid))(batch, 4)
    assert seen == []
    assert batch.calls == ["persist", "count", "unpersist"]


def test_frame_unpersists_when_the_gate_raises():
    def gate(df, bid):
        raise RuntimeError("gate failed in batch 2")

    batch = _FakeBatch(3)
    with pytest.raises(RuntimeError, match="gate failed in batch 2"):
        nonempty_batch(gate)(batch, 2)
    assert batch.calls == ["persist", "count", "unpersist"]


def test_frame_hands_a_nonempty_batch_to_the_gate_once():
    seen = []
    batch = _FakeBatch(5)

    def gate(df, bid):
        seen.append((df, bid, list(df.calls)))

    nonempty_batch(gate)(batch, 9)
    assert seen == [(batch, 9, ["persist", "count"])]
    assert batch.calls == ["persist", "count", "unpersist"]


def test_staged_batches_replay_in_order(spark, tmp_path):
    rels = [
        spark.range(5).selectExpr("id AS doc_id").repartition(3),
        spark.range(100, 102).selectExpr("id AS doc_id"),
    ]
    in_dir = str(tmp_path / "in")
    registry._stage_batches(rels, in_dir)

    files = sorted(os.listdir(in_dir))
    assert files == ["b0.parquet", "b1.parquet"]  # one file per relation
    mtimes = [os.path.getmtime(os.path.join(in_dir, f)) for f in files]
    assert mtimes[0] < mtimes[1]
    assert sorted(os.listdir(tmp_path)) == ["in"]  # staging dirs removed

    seen = []

    def gate(batch_df, batch_id):
        ids = [r.doc_id for r in batch_df.collect()]
        seen.append((batch_id, len(ids), min(ids)))

    stream = (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    drain(start_gate(stream, gate, str(tmp_path / "ckpt")), "staging-test")
    assert seen == [(0, 5, 0), (1, 2, 100)]


def test_single_file_streams_under_glob_metachars(spark, tmp_path):
    d = tmp_path / "x[1]{a}"
    d.mkdir()
    spark.range(7).selectExpr("id AS doc_id").coalesce(1).write.parquet(
        str(tmp_path / "w")
    )
    part = [f for f in os.listdir(tmp_path / "w") if f.endswith(".parquet")][0]
    os.rename(tmp_path / "w" / part, d / "documents.parquet")
    stream = spark.readStream.schema("doc_id long").parquet(
        registry._stream_path(str(d / "documents.parquet"))
    )
    out = registry._run_to_memory(stream, output_mode="append")
    assert sorted(r.doc_id for r in out.collect()) == list(range(7))


@pytest.mark.parametrize(
    "name", ["streaming_top_domains", "streaming_enriched", "streaming_events_hourly"]
)
def test_stream_queries_leave_no_scratch(spark, sf_dir, tmp_path, monkeypatch, name):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    rows = registry.QUERIES[name](spark, sf_dir).collect()
    assert rows
    assert [p for p in os.listdir(tmp_path) if "_stream_" in p] == []
