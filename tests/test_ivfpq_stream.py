"""Streaming IVF-PQ index maintenance (VERDICT r5 ask #3): the
foreachBatch add path must leave the artifact equal to a full rebuild
after any number of micro-batches, and probe-serving over
base ∪ segments must match serving over the rebuilt index.

The equivalence is structural (one encoding path, frozen quantizers
trained on the hash slice that excludes the ingest residue —
similarity.ivfpq_train), so the assertion here is vector-for-vector
on the real streamed artifact, not a property of a mock."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators import (
    similarity,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.sources.readers import (
    load_table,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.streaming.pipeline import (
    drain,
    run_ivfpq_add_stream,
)

pytestmark = pytest.mark.filterwarnings("ignore")

EMB_SCHEMA = "vec_id long, embedding array<float>, label int"
MOD = similarity.IVFPQ_BATCH_MOD
RES = similarity.IVFPQ_BATCH_RESIDUE


@pytest.fixture(scope="module")
def streamed_index(spark, sf_dir, tmp_path_factory):
    """Base index built from the train+standing slice; the held-out
    ingest residue streamed in as 3 micro-batches through
    run_ivfpq_add_stream. Returns (index_path, the query's
    recentProgress)."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % MOD != RES)
    batch = emb.filter(F.col("vec_id") % MOD == RES)

    index_path = str(tmp_path_factory.mktemp("ivfpq_stream_idx"))
    similarity.write_ivfpq_index(
        similarity.build_ivfpq_index(corpus), index_path
    )

    in_dir = str(tmp_path_factory.mktemp("ivfpq_stream_in"))
    batch.repartition(3).write.mode("overwrite").parquet(in_dir)

    stream = (
        spark.readStream.schema(EMB_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = run_ivfpq_add_stream(
        spark,
        stream,
        index_path,
        str(tmp_path_factory.mktemp("ivfpq_stream_ckpt")),
    )
    drain(q, "ivfpq-add")
    return index_path, q.recentProgress


def test_streamed_adds_equal_full_rebuild(spark, sf_dir, streamed_index):
    """base codes ∪ streamed segments == a from-scratch rebuild over
    corpus+batch, vector for vector — across >= 3 micro-batches."""
    index_path, progress = streamed_index
    # real multi-batch soak
    assert len([p for p in progress if p["numInputRows"] > 0]) >= 3

    emb = load_table(spark, sf_dir, "embeddings")
    rebuilt = similarity.build_ivfpq_index(emb)["codes"]
    streamed = similarity.read_ivfpq_index_with_adds(spark, index_path)[
        "codes"
    ]
    cols = ["vec_id", "cell", "sub_id", "code"]
    a = sorted(streamed.select(cols).collect(), key=lambda r: (r[0], r[2]))
    b = sorted(rebuilt.select(cols).collect(), key=lambda r: (r[0], r[2]))
    assert a == b


def test_serve_over_segments_matches_rebuild_serve(
    spark, sf_dir, streamed_index
):
    """Probe-only serve over base ∪ segments returns the identical
    top-k as serving the rebuilt index (same codes ⇒ same ADC ⇒ same
    shortlist ⇒ same exact re-rank)."""
    index_path, _ = streamed_index
    emb = load_table(spark, sf_dir, "embeddings")
    served_stream = similarity.ann_ivfpq_serve(
        similarity.read_ivfpq_index_with_adds(spark, index_path),
        emb,
        similarity.IVFPQ_ADD_QUERY,
    ).collect()
    served_rebuild = similarity.ann_ivfpq_serve(
        similarity.build_ivfpq_index(emb), emb, similarity.IVFPQ_ADD_QUERY
    ).collect()
    assert served_stream == served_rebuild


def test_segment_publish_is_idempotent(spark, sf_dir, streamed_index):
    """Replaying a batch id overwrites its own segment (foreachBatch
    at-least-once safety): re-adding batch_id=0's rows leaves the
    code set unchanged."""
    index_path, _ = streamed_index
    import os

    seg0 = os.path.join(index_path, "codes_adds", "batch_id=0")
    before = sorted(
        spark.read.parquet(seg0).select("vec_id", "sub_id", "code").collect()
    )
    index = similarity.read_ivfpq_index(spark, index_path)
    replay = spark.read.parquet(seg0).select("vec_id").distinct()
    emb = load_table(spark, sf_dir, "embeddings").join(replay, "vec_id")
    similarity.ivfpq_add_batch(index, emb).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(seg0)
    after = sorted(
        spark.read.parquet(seg0).select("vec_id", "sub_id", "code").collect()
    )
    assert before == after


def test_compaction_folds_segments_and_preserves_serving(
    spark, sf_dir, streamed_index
):
    """ivfpq_compact_segments merges the L0 segments into the base
    codes table: the segment area empties, the compacted index equals
    the pre-compaction base ∪ segments row-for-row, and probe-serving
    is unchanged (codes only move — they never re-encode)."""
    import os

    index_path, _ = streamed_index
    emb = load_table(spark, sf_dir, "embeddings")
    cols = ["vec_id", "cell", "sub_id", "code"]
    before_codes = sorted(
        similarity.read_ivfpq_index_with_adds(spark, index_path)["codes"]
        .select(cols)
        .collect()
    )
    served_before = similarity.ann_ivfpq_serve(
        similarity.read_ivfpq_index_with_adds(spark, index_path),
        emb,
        similarity.IVFPQ_ADD_QUERY,
    ).collect()

    stats = similarity.ivfpq_compact_segments(spark, index_path)
    assert stats["n_segments"] >= 3 and stats["n_rows"] > 0
    assert not os.path.isdir(os.path.join(index_path, "codes_adds"))

    after = similarity.read_ivfpq_index(spark, index_path)
    assert sorted(after["codes"].select(cols).collect()) == before_codes
    served_after = similarity.ann_ivfpq_serve(
        after, emb, similarity.IVFPQ_ADD_QUERY
    ).collect()
    assert served_after == served_before
    # idempotent: nothing left to fold
    assert similarity.ivfpq_compact_segments(spark, index_path) == {
        "n_segments": 0,
        "n_rows": 0,
        "n_tombstoned": 0,
    }
