"""Streaming decontamination gate (r12 wave 9 — the decontamination
family's ingest-time twin): micro-batches of candidate training docs
are probed against the broadcast benchmark n-gram set BEFORE
admission; per-batch report/admitted/quarantine ledgers. Pins:

  * the gate's per-batch flag set matches the batch operator
    (text.flag_contaminated == the batch audit's contamination rule)
  * admitted ∪ quarantine == batch, disjoint (nothing silently
    dropped, nothing double-counted)
  * a checkpoint-reset full replay is byte-identical (batch-keyed
    overwrite idempotency)
  * a benchmark doc shorter than n tokens has no grams — its
    re-crawl legitimately passes the gate
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators import (
    text,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.streaming.pipeline import (
    drain,
    run_decontamination_stream,
)

pytestmark = pytest.mark.filterwarnings("ignore")

N = 5  # small n so short fixture docs can contaminate


def _doc(i, words, source="web"):
    return (int(i), " ".join(words), "en", source, len(" ".join(words)))


@pytest.fixture(scope="module")
def fixture(spark, tmp_path_factory):
    """Benchmark = two docs; stream = two batches. Batch 0: one clean
    doc + one doc embedding a benchmark 5-gram. Batch 1: a re-crawl
    (exact copy) of benchmark doc A, a SHORT benchmark doc's re-crawl
    (< n tokens — must pass), and a clean doc."""
    bench_a = [f"bench{j}" for j in range(8)]  # >= n tokens
    bench_short = ["tiny", "doc"]  # < n tokens: no grams
    bench = spark.createDataFrame(
        [_doc(1, bench_a), _doc(2, bench_short)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    bench_grams = text.benchmark_gram_set(
        bench, n=N, mod=1, residue=0
    ).persist()

    b0 = [
        _doc(10, [f"clean{j}" for j in range(10)]),
        _doc(11, ["pre"] + bench_a[:N] + ["post"], source="mixed"),
    ]
    b1 = [
        _doc(20, bench_a, source="recrawl"),
        _doc(21, bench_short, source="recrawl"),
        _doc(22, [f"fresh{j}" for j in range(10)]),
    ]
    root = tmp_path_factory.mktemp("decon_stream")
    in_dir = str(root / "in")
    os.makedirs(in_dir)
    base_t = 1_700_000_000
    for i, rows in enumerate((b0, b1)):
        stage = str(root / f"stage_{i}")
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = f"{in_dir}/b{i}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (base_t + 10 * i, base_t + 10 * i))
    yield in_dir, bench_grams, str(root)
    bench_grams.unpersist()


def _run(spark, in_dir, bench_grams, out_dir, ckpt):
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string,"
            " n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = run_decontamination_stream(spark, stream, bench_grams, out_dir, ckpt, n=N)
    drain(q, "decontamination")
    return q


def _read(spark, out_dir, sub):
    return (
        spark.read.option("basePath", os.path.join(out_dir, sub))
        .parquet(os.path.join(out_dir, sub))
    )


def test_gate_flags_match_batch_rule_and_ledgers_partition(
    spark, fixture
):
    in_dir, bench_grams, root = fixture
    out = f"{root}/out1"
    q = _run(spark, in_dir, bench_grams, out, f"{root}/ckpt1")
    assert [p["batchId"] for p in q.recentProgress if p["numInputRows"]] == [0, 1]

    quarantined = {
        (r.batch_id, r.doc_id)
        for r in _read(spark, out, "quarantine")
        .select("batch_id", "doc_id")
        .collect()
    }
    # doc 11 embeds a benchmark 5-gram; doc 20 is a full re-crawl;
    # doc 21 re-crawls the SHORT benchmark doc (no grams → passes)
    assert quarantined == {(0, 11), (1, 20)}

    admitted = {
        (r.batch_id, r.doc_id)
        for r in _read(spark, out, "admitted")
        .select("batch_id", "doc_id")
        .collect()
    }
    assert admitted == {(0, 10), (1, 21), (1, 22)}

    report = {
        (r.batch_id, r.source): (r.n_docs, r.n_contaminated)
        for r in _read(spark, out, "report").collect()
    }
    assert report[(0, "mixed")] == (1, 1)
    assert report[(0, "web")] == (1, 0)
    assert report[(1, "recrawl")] == (2, 1)
    assert report[(1, "web")] == (1, 0)


def test_checkpoint_reset_replay_is_identical(spark, fixture):
    in_dir, bench_grams, root = fixture
    out = f"{root}/out2"
    _run(spark, in_dir, bench_grams, out, f"{root}/ckpt2a")
    first = sorted(
        tuple(r)
        for r in _read(spark, out, "report")
        .select(
            "batch_id", "source", "n_docs", "n_contaminated",
            "contamination_rate",
        )
        .collect()
    )
    # fresh checkpoint over the same input dir and the SAME out dir:
    # every batch re-fires and overwrites its own ledgers
    _run(spark, in_dir, bench_grams, out, f"{root}/ckpt2b")
    second = sorted(
        tuple(r)
        for r in _read(spark, out, "report")
        .select(
            "batch_id", "source", "n_docs", "n_contaminated",
            "contamination_rate",
        )
        .collect()
    )
    assert first == second
