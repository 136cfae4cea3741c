"""Round-7 ADVICE guards on the maintained artifacts:

1. URI-path refusal on EVERY reader/compactor that discovers
   segments via driver-local os.listdir (band index, IVF-PQ index,
   chunk-digest index) — on hdfs://s3a:// the listing silently
   returns nothing, so tombstones/adds would be SKIPPED and erased
   subjects would keep serving.
2. All-rows-erased compaction refusal: publishing an EMPTY parquet
   directory bricks later reads (no schema to infer), so compaction
   refuses and leaves the tombstone ledgers in place — the serving
   read keeps excluding every row.
3. Re-consent on the chunk-digest index: a subject folded into the
   `erased_subjects/` suppression ledger whose content legitimately
   re-enters via an adds segment becomes erasable AGAIN
   (release_erased_subjects), and a dropped repeat request is
   DETECTABLE via the surfaced `n_suppressed` counter.
4. Labels seed marker: once the cluster-labels artifact has
   published, a missing labels dir is a torn rename-swap and the
   stream fails loudly instead of silently rebuilding corpus
   clustering from one batch's pairs.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators import (
    dedup,
    similarity,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.sources.readers import (
    load_table,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.streaming.pipeline import (
    build_chunk_digest_index,
    chunk_index_compact,
    chunk_index_erase,
    release_erased_subjects,
    run_cluster_update_stream,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators.text import (
    cdc_chunk_table,
)

pytestmark = pytest.mark.filterwarnings("ignore")

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "s", 0) for i, t in rows], DOC_SCHEMA
    )


def test_every_segment_reader_refuses_uri_paths(spark):
    """The medium ADVICE item: all driver-local listers fail loudly
    on remote URIs instead of silently skipping erasure segments."""
    one_doc = spark.createDataFrame([(1,)], "doc_id long")
    calls = [
        lambda p: dedup.read_band_tombstones(spark, p),
        lambda p: dedup.read_band_index_serving(spark, p),
        lambda p: dedup.band_index_add(spark, p, None, 0),
        lambda p: dedup.band_index_erase(spark, p, one_doc),
        lambda p: dedup.band_index_compact(spark, p),
        lambda p: similarity.read_ivfpq_index_with_adds(spark, p),
        lambda p: similarity.read_ivfpq_tombstones(spark, p),
        lambda p: similarity.read_ivfpq_index_serving(spark, p),
        lambda p: similarity.ivfpq_erase(
            spark, p, one_doc.select(F.col("doc_id").alias("vec_id"))
        ),
        lambda p: similarity.ivfpq_compact_segments(spark, p),
        lambda p: chunk_index_erase(spark, p, None),
        lambda p: release_erased_subjects(spark, p, one_doc),
        lambda p: chunk_index_compact(spark, p),
    ]
    for call in calls:
        for bad in ("hdfs://nn/idx", "s3a://bucket/idx", "file:///t/i"):
            with pytest.raises(ValueError, match="os.listdir"):
                call(bad)


def test_band_compact_refuses_all_rows_erased(spark, tmp_path):
    """Erasing every contributor then compacting must NOT publish an
    empty bands dir (bricked artifact); the tombstones stay pending
    and the serving read keeps excluding everything."""
    text_a = " ".join(f"alpha{i}" for i in range(40))
    text_b = " ".join(f"beta{i}" for i in range(40))
    docs = _docs(spark, [(1, text_a), (2, text_b)])
    path = str(tmp_path / "bidx")
    dedup.write_band_index(docs, path)
    assert spark.read.parquet(f"{path}/bands").count() > 0

    dedup.band_index_erase(spark, path, docs.select("doc_id"))
    with pytest.raises(ValueError, match="EMPTY"):
        dedup.band_index_compact(spark, path)

    # artifact NOT bricked: bands still readable, tombstones still
    # pending, serving read excludes every row
    assert spark.read.parquet(f"{path}/bands").count() > 0
    assert dedup.read_band_tombstones(spark, path) is not None
    assert dedup.read_band_index_serving(spark, path).count() == 0
    # no leftover scratch dirs from the refused publish
    assert not glob.glob(f"{path}/.bands_compact_*")

    # a partial erase still compacts fine afterwards
    shutil.rmtree(f"{path}/tombstones")
    dedup.band_index_erase(
        spark, path, docs.filter(F.col("doc_id") == 1).select("doc_id")
    )
    stats = dedup.band_index_compact(spark, path)
    assert stats["n_tombstoned"] == 1
    bands = spark.read.parquet(f"{path}/bands")
    assert bands.filter(F.col("doc_id") == 1).count() == 0
    assert bands.filter(F.col("doc_id") == 2).count() > 0


def test_ivfpq_compact_refuses_all_rows_erased(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    similarity.write_ivfpq_index(similarity.build_ivfpq_index(emb), path)

    similarity.ivfpq_erase(spark, path, emb.select("vec_id"))
    with pytest.raises(ValueError, match="EMPTY"):
        similarity.ivfpq_compact_segments(spark, path)

    # not bricked: codes readable, serving read excludes every vec
    assert spark.read.parquet(f"{path}/codes").count() > 0
    served = similarity.read_ivfpq_index_serving(spark, path)
    assert served["codes"].count() == 0
    assert not glob.glob(f"{path}/.codes_compact_*")


def test_chunk_compact_refuses_all_rows_erased(spark, tmp_path):
    text_a = " ".join(f"alpha{i}" for i in range(40))
    docs = _docs(spark, [(1, text_a)])
    path = str(tmp_path / "cidx")
    build_chunk_digest_index(docs, path)
    chunk_index_erase(spark, path, docs)
    with pytest.raises(ValueError, match="EMPTY"):
        chunk_index_compact(spark, path)
    assert spark.read.parquet(f"{path}/base").count() > 0


def test_chunk_index_reconsent_release(spark, tmp_path):
    """Erase → compact folds the subject into the suppression ledger;
    a repeat request is dropped but DETECTABLE (n_suppressed); when
    the subject's content re-enters via an adds segment, releasing it
    makes a later erase effective again — the re-added refs do not
    live forever."""
    text_a = " ".join(f"alpha{i}" for i in range(40))
    text_b = " ".join(f"beta{i}" for i in range(40))
    docs = _docs(spark, [(1, text_a), (2, text_b)])
    path = str(tmp_path / "cidx")
    build_chunk_digest_index(docs, path)
    a_digests = dedup.chunk_digest_index(
        docs.filter(F.col("doc_id") == 1)
    ).select("digest")
    n_a = a_digests.count()

    # no ledger yet: release is a no-op
    assert release_erased_subjects(
        spark, path, docs.select("doc_id")
    ) == {"n_released": 0}

    # erase subject 1 and fold it
    stats = chunk_index_erase(spark, path, docs.filter(F.col("doc_id") == 1))
    assert stats["n_subjects"] == 1 and stats["n_suppressed"] == 0
    assert chunk_index_compact(spark, path)["n_dead"] == n_a

    # repeat request: dropped, and the drop is SURFACED
    stats = chunk_index_erase(spark, path, docs.filter(F.col("doc_id") == 1))
    assert stats["n_subjects"] == 0 and stats["n_suppressed"] == 1

    # subject 1's content re-enters as an adds segment (the stream's
    # per-batch publish), so the subject is released for re-erasure
    batch = docs.filter(F.col("doc_id") == 1)
    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.streaming.pipeline import (
        read_chunk_digest_index,
    )

    marked = dedup.chunk_dedup_marked(
        read_chunk_digest_index(spark, path), cdc_chunk_table(batch)
    )
    dedup.new_digest_refs_from_marked(marked).write.mode(
        "overwrite"
    ).parquet(f"{path}/adds/batch_id=0")
    assert release_erased_subjects(
        spark, path, batch.select("doc_id")
    ) == {"n_released": 1}
    # ledger emptied entirely → deleted, not left as schema-less dir
    assert not os.path.isdir(f"{path}/erased_subjects")
    # idempotent on replay
    assert release_erased_subjects(
        spark, path, batch.select("doc_id")
    ) == {"n_released": 0}

    # the re-added content is erasable AGAIN — refs die at compaction
    stats = chunk_index_erase(spark, path, batch)
    assert stats["n_subjects"] == 1 and stats["n_suppressed"] == 0
    stats = chunk_index_compact(spark, path)
    assert stats["n_dead"] == n_a
    base = spark.read.parquet(f"{path}/base")
    assert base.join(a_digests, "digest", "left_semi").count() == 0


def test_cluster_stream_raises_on_torn_labels_swap(spark, tmp_path):
    """A seeded labels artifact whose labels dir is missing is a torn
    rename-swap: the stream must fail loudly, never rebuild corpus
    clustering from a single batch's pairs."""
    text_a = " ".join(f"alpha{i}" for i in range(40))
    corpus = _docs(spark, [(1, text_a), (2, text_a + " tail")])
    bidx = str(tmp_path / "bidx")
    dedup.write_band_index(corpus, bidx)

    lab = str(tmp_path / "lab")
    os.makedirs(lab)
    with open(os.path.join(lab, "_labels_seeded"), "w") as fh:
        fh.write("1")
    # NO labels dir: with the marker present this is a torn publish

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    stage = str(tmp_path / "stage")
    _docs(spark, [(10, text_a)]).coalesce(1).write.parquet(stage)
    shutil.move(
        glob.glob(f"{stage}/part-*.parquet")[0], f"{in_dir}/b0.parquet"
    )

    stream = spark.readStream.schema(DOC_SCHEMA).parquet(in_dir)
    q = run_cluster_update_stream(
        spark, stream, bidx, corpus, lab, str(tmp_path / "ckpt")
    )
    with pytest.raises(Exception, match="seed marker"):
        q.awaitTermination(300)
        raise AssertionError("stream should have failed")

    # first-batch path still works once the marker is removed
    os.remove(os.path.join(lab, "_labels_seeded"))
    q = run_cluster_update_stream(
        spark, stream, bidx, corpus, lab, str(tmp_path / "ckpt2")
    )
    assert q.awaitTermination(300)
    assert os.path.isdir(os.path.join(lab, "labels"))
    assert os.path.exists(os.path.join(lab, "_labels_seeded"))


def test_boilerplate_scrub_stream_matches_batch_and_replays(
    spark, sf_dir, tmp_path
):
    """Streamed scrub against the frozen template artifact equals the
    one-shot batch scrub, and a checkpoint-reset replay reproduces
    the same cleaned segments (overwrite-by-batch idempotence)."""
    import glob as _glob
    import time as _time

    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators import (
        text,
    )
    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.sources.readers import (
        load_table,
    )
    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.streaming.pipeline import (
        run_boilerplate_scrub_stream,
    )

    tdocs = text.with_template_docs(load_table(spark, sf_dir, "documents"))
    tidx = str(tmp_path / "tidx")
    text.write_template_index(tdocs, tidx)

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    base_t = _time.time()
    for i, b in enumerate(
        (tdocs.filter(F.col("doc_id") % 2 == 0),
         tdocs.filter(F.col("doc_id") % 2 == 1))
    ):
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
        q = run_boilerplate_scrub_stream(
            spark, stream, tidx, str(tmp_path / "cleaned"),
            str(tmp_path / ckpt),
        )
        assert q.awaitTermination(300)

    run("ck1")
    got = {
        (r.doc_id, r.cleaned_text)
        for r in spark.read.option("basePath", str(tmp_path / "cleaned"))
        .parquet(str(tmp_path / "cleaned"))
        .collect()
    }
    expected = {
        (r.doc_id, r.cleaned_text)
        for r in text.boilerplate_cleaned_docs(tdocs).collect()
    }
    assert got == expected and len(expected) > 0
    # templates actually bit: some doc's text shrank
    shrunk = text.boilerplate_scrub_report(tdocs).agg(
        F.sum("boilerplate_words")
    ).collect()[0][0]
    assert shrunk > 0

    run("ck2")  # checkpoint-reset replay: identical segments
    again = {
        (r.doc_id, r.cleaned_text)
        for r in spark.read.option("basePath", str(tmp_path / "cleaned"))
        .parquet(str(tmp_path / "cleaned"))
        .collect()
    }
    assert again == got


def test_manifest_ledger_discipline_and_replay(spark, sf_dir, tmp_path):
    """The manifest artifact's replay safety is BOOKKEPT, not
    algebraic (xor self-inverts — a destructive re-fold of a
    replayed batch would cancel its digests and double its counts):
    batch-keyed segment overwrite must make a checkpoint-reset
    replay a no-op; erase + compact must land exactly on the
    rebuild-without-erased manifest; and interleavings (add → erase
    → compact → add) keep the fold exact."""
    import glob as _glob
    import time as _time

    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.sources.readers import (
        load_table,
    )
    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.streaming.pipeline import (
        _manifest_shard_rows,
        build_manifest_artifact,
        manifest_compact,
        manifest_erase,
        read_manifest_serving,
        run_manifest_update_stream,
    )

    docs = load_table(spark, sf_dir, "documents")
    dupes = dedup.with_synthetic_dupes(docs)
    b0 = dupes.filter(
        (F.col("doc_id") >= 100000) & (F.col("doc_id") < 200000)
    )
    b1 = dupes.filter(F.col("doc_id") >= 200000)

    mpath = str(tmp_path / "manifest")
    build_manifest_artifact(docs, mpath)

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
        q = run_manifest_update_stream(
            spark, stream, mpath, str(tmp_path / ckpt)
        )
        assert q.awaitTermination(300)

    def fold():
        return {
            r.shard: (r.n_docs, r.n_tokens, r.content_xor)
            for r in read_manifest_serving(spark, mpath).collect()
        }

    def rebuilt(rel):
        return {
            r.shard: (r.n_docs, r.n_tokens, r.content_xor)
            for r in _manifest_shard_rows(rel).collect()
        }

    run("ck1")
    assert fold() == rebuilt(dupes)
    # checkpoint-reset replay: batch-keyed overwrite → unchanged
    # (a destructive xor fold would have cancelled both batches here)
    run("ck2")
    assert fold() == rebuilt(dupes)

    # erase the standing subject set; serve == rebuild-without
    er = dupes.filter(
        (F.col("doc_id") < 100000)
        & (F.col("doc_id") % dedup.BAND_ERASE_MOD == dedup.BAND_ERASE_RESIDUE)
    )
    stats = manifest_erase(spark, mpath, er)
    assert stats["n_docs_erased"] == er.count() > 0
    survivors = dupes.join(er.select("doc_id"), "doc_id", "left_anti")
    assert fold() == rebuilt(survivors)

    # compaction folds the ledgers physically; fold unchanged
    st = manifest_compact(spark, mpath)
    assert st["n_segments"] == 3  # 2 adds + 1 erase
    assert not os.path.isdir(f"{mpath}/adds")
    assert fold() == rebuilt(survivors)
    # idempotent: nothing left
    assert manifest_compact(spark, mpath)["n_segments"] == 0

    # post-compaction add still folds exactly: the manifest counts
    # CONTRIBUTIONS, so landing b0 again on the compacted base makes
    # the fold equal the rebuild over survivors + b0
    _manifest_shard_rows(b0).write.mode("overwrite").parquet(
        f"{mpath}/adds/batch_id=9"
    )
    assert fold() == rebuilt(survivors.unionByName(b0))

    # URI guard on every segment-listing entry point
    for fn in (
        lambda p: read_manifest_serving(spark, p),
        lambda p: manifest_erase(spark, p, er),
        lambda p: manifest_compact(spark, p),
    ):
        with pytest.raises(ValueError, match="os.listdir"):
            fn("s3a://bucket/m")
