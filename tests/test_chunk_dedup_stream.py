"""Streaming chunk-substring dedup: the foreachBatch maintenance
must leave each batch's ledger equal to running the batch operator
incrementally (corpus + all earlier batches as the index), the index
must grow by exactly the kept digests (a later exact copy of an
earlier batch reconstructs to zero), and a checkpoint-reset replay
must reproduce the same ledgers (idempotent publish)."""

from __future__ import annotations

import glob
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators import (
    dedup,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.sources.readers import (
    load_table,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.streaming.pipeline import (
    build_chunk_digest_index,
    drain,
    run_chunk_dedup_stream,
)

pytestmark = pytest.mark.filterwarnings("ignore")

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _ledger_rows(spark, index_path, batch_id):
    return sorted(
        (r.doc_id, r.w_total, r.w_corpus_dup, r.w_batch_dup, r.w_kept)
        for r in spark.read.parquet(
            os.path.join(index_path, "ledger", f"batch_id={batch_id}")
        ).collect()
    )


@pytest.fixture(scope="module")
def streamed_dedup(spark, sf_dir, tmp_path_factory):
    """Corpus = base documents; 3 micro-batches streamed in strict
    order (pinned mtimes): b0 = exact copies of corpus docs,
    b1 = near copies (appended marker), b2 = exact copies of b1 —
    b2 dedupes against content introduced by b1, not the corpus.
    Returns (index_path, batches_as_dataframes)."""
    docs = load_table(spark, sf_dir, "documents")
    dupes = dedup.with_synthetic_dupes(docs)
    b0 = dupes.filter(
        (F.col("doc_id") >= 100000) & (F.col("doc_id") < 200000)
    )
    b1 = dupes.filter(F.col("doc_id") >= 200000)
    b2 = b1.withColumn("doc_id", F.col("doc_id") + 200000)

    index_path = str(tmp_path_factory.mktemp("chunk_idx"))
    build_chunk_digest_index(docs, index_path)

    in_dir = str(tmp_path_factory.mktemp("chunk_stream_in"))
    base_t = time.time()
    for i, b in enumerate((b0, b1, b2)):
        stage = str(tmp_path_factory.mktemp(f"stage_{i}"))
        b.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(in_dir, f"b{i}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (base_t + 10 * i, base_t + 10 * i))

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = run_chunk_dedup_stream(
        spark,
        stream,
        index_path,
        str(tmp_path_factory.mktemp("chunk_ckpt")),
    )
    drain(q, "chunk-dedup")
    return index_path, in_dir, (b0, b1, b2), docs


def test_each_batch_ledger_matches_incremental_batch_op(
    spark, streamed_dedup
):
    index_path, _, batches, docs = streamed_dedup
    cumulative = docs
    for i, b in enumerate(batches):
        expect = sorted(
            (r.doc_id, r.w_total, r.w_corpus_dup, r.w_batch_dup, r.w_kept)
            for r in dedup.chunk_dedup_batch_ledger(
                dedup.chunk_digest_index(cumulative), b
            ).collect()
        )
        assert _ledger_rows(spark, index_path, i) == expect
        cumulative = cumulative.unionByName(b)


def test_index_growth_dedupes_later_copy_of_earlier_batch(
    spark, streamed_dedup
):
    index_path, _, _, _ = streamed_dedup
    # b2 is an exact copy of b1: every chunk was introduced by b1's
    # adds segment (or the corpus), so nothing survives
    b2 = spark.read.parquet(
        os.path.join(index_path, "ledger", "batch_id=2")
    )
    kept = b2.agg(F.sum("w_kept")).collect()[0][0]
    assert kept == 0
    # and b2 introduced no digests — its presence (adds) segment is
    # empty; the re-references it makes to b1's content land in the
    # refcount-only rerefs segment (what keeps shared digests alive
    # through a later erasure of their original contributor)
    adds2 = spark.read.parquet(
        os.path.join(index_path, "adds", "batch_id=2")
    )
    assert adds2.count() == 0
    rerefs2 = spark.read.parquet(
        os.path.join(index_path, "rerefs", "batch_id=2")
    )
    assert rerefs2.count() > 0


def test_replay_with_fresh_checkpoint_is_idempotent(
    spark, streamed_dedup, tmp_path_factory
):
    index_path, in_dir, _, _ = streamed_dedup
    before = [_ledger_rows(spark, index_path, i) for i in range(3)]
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = run_chunk_dedup_stream(
        spark,
        stream,
        index_path,
        str(tmp_path_factory.mktemp("chunk_ckpt_replay")),
    )
    drain(q, "chunk-dedup replay")
    after = [_ledger_rows(spark, index_path, i) for i in range(3)]
    assert after == before


def test_read_index_refuses_uri_paths(spark):
    """adds discovery is driver-local os.listdir — a remote URI would
    silently skip every adds segment and corrupt the ledgers, so it
    must fail loudly instead."""
    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.streaming.pipeline import (
        read_chunk_digest_index,
    )

    for bad in ("hdfs://nn/idx", "s3a://bucket/idx", "file:///tmp/idx"):
        with pytest.raises(ValueError, match="os.listdir"):
            read_chunk_digest_index(spark, bad)


def test_chunk_index_erase_refcounts_and_reref_protection(
    spark, tmp_path
):
    """Refcount GC on the content-addressed index: (a) erasing one
    contributor of shared content must NOT kill the digests (the
    surviving doc still reconstructs as a dup), (b) a streamed batch
    that re-references old content protects it through an erasure of
    the original contributor (rerefs segment), (c) erasing every
    contributor kills the digests and compaction drops them
    physically."""
    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.streaming.pipeline import (
        chunk_index_compact,
        chunk_index_erase,
        read_chunk_digest_index,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    text_a = " ".join(f"alpha{i}" for i in range(40))
    text_b = " ".join(f"beta{i}" for i in range(40))
    corpus = spark.createDataFrame(
        [(1, text_a, "en", "s", 0), (2, text_a, "en", "s", 0),
         (3, text_b, "en", "s", 0)],
        schema,
    )
    path = str(tmp_path / "cidx")
    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.streaming.pipeline import (
        build_chunk_digest_index,
    )

    build_chunk_digest_index(corpus, path)
    n_base = spark.read.parquet(f"{path}/base").count()
    a_digests = dedup.chunk_digest_index(
        corpus.filter(F.col("doc_id") == 1)
    ).select("digest")
    n_a = a_digests.count()

    # (a) erase doc 1: doc 2 still references text_a's digests
    chunk_index_erase(spark, path, corpus.filter(F.col("doc_id") == 1))
    idx = read_chunk_digest_index(spark, path)
    assert idx.join(a_digests, "digest", "left_semi").count() == n_a
    stats = chunk_index_compact(spark, path)
    assert stats["n_dead"] == 0
    assert spark.read.parquet(f"{path}/base").count() == n_base

    # (b) a batch re-references text_a (rerefs segment), then BOTH
    # original contributors are erased — the re-reference keeps the
    # digests alive
    batch = spark.createDataFrame([(10, text_a, "en", "s", 0)], schema)
    marked = dedup.chunk_dedup_marked(
        read_chunk_digest_index(spark, path),
        __import__(
            "development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators.text",
            fromlist=["cdc_chunk_table"],
        ).cdc_chunk_table(batch),
    )
    dedup.new_digest_refs_from_marked(marked).write.mode(
        "overwrite"
    ).parquet(f"{path}/adds/batch_id=0")
    dedup.rereference_refs_from_marked(marked).write.mode(
        "overwrite"
    ).parquet(f"{path}/rerefs/batch_id=0")
    chunk_index_erase(
        spark, path, corpus.filter(F.col("doc_id").isin(1, 2))
    )
    idx = read_chunk_digest_index(spark, path)
    assert idx.join(a_digests, "digest", "left_semi").count() == n_a
    stats = chunk_index_compact(spark, path)
    assert stats["n_dead"] == 0

    # repeat request for already-folded subjects: suppressed (the
    # erased_subjects ledger), so shared digests are not
    # double-decremented into oblivion
    stats = chunk_index_erase(
        spark, path, corpus.filter(F.col("doc_id").isin(1, 2))
    )
    assert stats["n_subjects"] == 0 and stats["n_refs"] == 0
    assert chunk_index_compact(spark, path)["n_dead"] == 0
    idx = read_chunk_digest_index(spark, path)
    assert idx.join(a_digests, "digest", "left_semi").count() == n_a

    # (c) erase the re-referencing doc too: text_a's digests die,
    # text_b's survive — and leave the artifact physically
    chunk_index_erase(spark, path, batch)
    idx = read_chunk_digest_index(spark, path)
    assert idx.join(a_digests, "digest", "left_semi").count() == 0
    stats = chunk_index_compact(spark, path)
    assert stats["n_dead"] == n_a
    base = spark.read.parquet(f"{path}/base")
    assert base.join(a_digests, "digest", "left_semi").count() == 0
    assert base.count() == n_base - n_a
    # idempotent: nothing left to fold
    assert chunk_index_compact(spark, path)["n_dead"] == 0


def test_cluster_update_stream_matches_full_and_replays_idempotent(
    spark, sf_dir, tmp_path
):
    """Streaming cluster maintenance: after streaming two batches the
    labels artifact equals the FULL recompute over corpus ∪ batches
    (cross-batch pairs found through the adds segments), and a
    checkpoint-reset replay leaves the labels unchanged — connected
    components are idempotent under edge re-addition, so replay
    safety is algebraic, not bookkept."""
    import glob as _glob
    import time as _time

    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.streaming.pipeline import (
        run_cluster_update_stream,
    )

    docs = load_table(spark, sf_dir, "documents")
    dupes = dedup.with_synthetic_dupes(docs)
    b0 = dupes.filter(
        (F.col("doc_id") >= 100000) & (F.col("doc_id") < 200000)
    )
    b1 = dupes.filter(F.col("doc_id") >= 200000)

    bidx = str(tmp_path / "bidx")
    dedup.write_band_index(docs, bidx)
    lab = str(tmp_path / "lab")
    os.makedirs(lab)
    dedup.near_dup_clusters(docs).write.parquet(f"{lab}/labels")

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    base_t = _time.time()
    for i, b in enumerate((b0, b1)):
        stage = str(tmp_path / f"stage_{i}")
        b.coalesce(1).write.mode("overwrite").parquet(stage)
        part = _glob.glob(f"{stage}/part-*.parquet")[0]
        dst = f"{in_dir}/b{i}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (base_t + 10 * i, base_t + 10 * i))

    def run(ckpt):
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = run_cluster_update_stream(
            spark, stream, bidx, docs, lab, str(tmp_path / ckpt)
        )
        assert q.awaitTermination(300)

    run("ck1")
    streamed = {
        (r.doc_id, r.cluster_id)
        for r in spark.read.parquet(f"{lab}/labels").collect()
    }
    full = {
        (r.doc_id, r.cluster_id)
        for r in dedup.near_dup_clusters(dupes).collect()
    }
    assert streamed == full and len(full) > 0

    # checkpoint-reset replay: both batches re-fold — no change
    run("ck2")
    again = {
        (r.doc_id, r.cluster_id)
        for r in spark.read.parquet(f"{lab}/labels").collect()
    }
    assert again == streamed


def test_stream_over_lang_aware_artifact(spark, tmp_path):
    """r11: the STREAMING chunk-dedup path over a LANG-AWARE artifact
    — batches chunk with the index's recorded tokenizer, so (a) a
    prefix-shifted de-spaced CJK duplicate of corpus content
    reconstructs mostly corpus-dup (a whitespace-mode stream would
    reconstruct it fully novel), and (b) a second batch copying the
    first reconstructs to zero through the lang-aware adds segment
    (cross-batch growth under char chunking)."""
    zh = (
        "今天天气很好我们去公园散步然后喝茶聊天看书写字画画唱歌跳舞运动休息"
        "另外一段内容讲的是机器学习训练数据去重的问题与方法模型评估指标"
        "以及大规模语料清洗流程中的分块指纹去重策略和增量维护机制设计细节"
    )
    corpus = spark.createDataFrame(
        [(1, zh, "zh", "s", 0),
         (2, "plain english filler words here " * 6, "en", "s", 0)],
        DOC_SCHEMA,
    )
    index_path = str(tmp_path / "cidx")
    build_chunk_digest_index(corpus, index_path, tokenizer="lang_aware")
    b0 = spark.createDataFrame(
        [(10, "前面插入了一段新的开头" + zh, "zh", "s", 0)], DOC_SCHEMA
    )
    b1 = b0.withColumn("doc_id", F.col("doc_id") + 10)
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    base_t = time.time()
    for i, b in enumerate((b0, b1)):
        stage = str(tmp_path / f"stage_{i}")
        b.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(in_dir, f"b{i}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (base_t + 10 * i, base_t + 10 * i))
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = run_chunk_dedup_stream(
        spark, stream, index_path, str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(300), q.exception()
    r0 = spark.read.parquet(
        os.path.join(index_path, "ledger", "batch_id=0")
    ).collect()[0]
    # shifted duplicate: most units reclaim against the corpus via
    # char CDC (whitespace chunking would give w_corpus_dup == 0)
    assert r0.w_corpus_dup > 0
    assert r0.w_corpus_dup >= r0.w_total // 2
    # the copy batch reconstructs to zero through b0's adds segment
    r1 = spark.read.parquet(
        os.path.join(index_path, "ledger", "batch_id=1")
    ).collect()[0]
    assert r1.w_kept == 0
    assert r1.w_corpus_dup == r1.w_total
