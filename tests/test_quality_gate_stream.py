"""Streaming quality gate (round 6): model-based filtering across
the batch/stream boundary — train in batch (weights + threshold
artifact), gate the document stream per micro-batch, and prove the
streamed kept set equals the batch gate's kept set across >= 3
micro-batches (plus replay idempotence)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators import (
    text,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.sources.readers import (
    load_table,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.streaming.pipeline import (
    drain,
    run_quality_gate_stream,
)

pytestmark = pytest.mark.filterwarnings("ignore")

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


@pytest.fixture(scope="module")
def gated(spark, sf_dir, tmp_path_factory):
    docs = load_table(spark, sf_dir, "documents")
    weights, threshold = text.quality_model_artifact(docs)
    assert threshold is not None

    in_dir = str(tmp_path_factory.mktemp("qgate_in"))
    docs.repartition(3).write.mode("overwrite").parquet(in_dir)
    kept_dir = str(tmp_path_factory.mktemp("qgate_kept"))
    q = run_quality_gate_stream(
        spark,
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir),
        weights,
        threshold,
        kept_dir,
        str(tmp_path_factory.mktemp("qgate_ckpt")),
    )
    drain(q, "quality-gate")
    return docs, weights, threshold, kept_dir, q.recentProgress


def test_streamed_gate_equals_batch_gate(spark, gated):
    """Union of per-batch kept docs == the batch gate over the whole
    corpus (same frozen weights + threshold), across >= 3 batches."""
    docs, weights, threshold, kept_dir, progress = gated
    assert len([p for p in progress if p["numInputRows"] > 0]) >= 3
    streamed = sorted(
        r["doc_id"]
        for r in spark.read.parquet(kept_dir).select("doc_id").collect()
    )
    batch = sorted(
        r["doc_id"]
        for r in text.quality_model_scored(docs, weights)
        .filter(F.col("milli_logit") >= threshold)
        .select("doc_id")
        .collect()
    )
    assert streamed == batch and len(batch) > 0


def test_gate_keep_rate_near_target(spark, gated):
    """The trained threshold realizes approximately the configured
    keep share on the train split (ties at the cut may push it
    slightly over — value-threshold semantics)."""
    docs, weights, threshold, kept_dir, _ = gated
    scored = text.quality_model_scored(docs, weights)
    train = scored.filter(
        text.split_col(F.col("doc_id")) == "train"
    )
    n = train.count()
    kept = train.filter(F.col("milli_logit") >= threshold).count()
    assert kept >= int(n * text.QC_KEEP_PCT / 100)  # never under-keeps
    assert kept <= n * (text.QC_KEEP_PCT + 15) / 100  # ties bounded


def test_gate_replay_idempotent(spark, gated):
    """Rewriting batch 0's kept segment from the same inputs leaves
    it unchanged (overwrite-by-batch-id semantics)."""
    docs, weights, threshold, kept_dir, _ = gated
    seg0 = os.path.join(kept_dir, "batch_id=0")
    before = sorted(spark.read.parquet(seg0).collect())
    ids = spark.read.parquet(seg0).select("doc_id")
    replay = docs.join(ids, "doc_id")
    text.quality_model_scored(replay, weights).filter(
        F.col("milli_logit") >= threshold
    ).write.mode("overwrite").parquet(seg0)
    after = sorted(spark.read.parquet(seg0).collect())
    assert before == after
