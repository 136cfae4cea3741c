"""Tombstone erasure on the maintained IVF-PQ artifact (VERDICT r6
ask #1): right-to-be-forgotten must reach the ANN index without a
rebuild. An erase publishes a request-sized tombstone segment; the
SERVING read excludes tombstoned vec_ids everywhere (base and every
un-compacted add, including adds published AFTER the erasure); the
next compaction drops the rows physically and clears the tombstones.
The equivalence proven: serve-after-erase == serve of codes encoded
from scratch WITHOUT the erased vectors (frozen quantizers — the same
discipline that makes incremental add equal a rebuild)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators import (
    similarity,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.sources.readers import (
    load_table,
)

pytestmark = pytest.mark.filterwarnings("ignore")

MOD = similarity.IVFPQ_BATCH_MOD
RES = similarity.IVFPQ_BATCH_RESIDUE
EMOD = similarity.IVFPQ_ERASE_MOD
ERES = similarity.IVFPQ_ERASE_RESIDUE
QID = similarity.IVFPQ_ERASE_QUERY
COLS = ["vec_id", "cell", "sub_id", "code"]


def _erase_ids(emb):
    return emb.filter(F.col("vec_id") % EMOD == ERES).select("vec_id")


@pytest.fixture()
def base_index(spark, sf_dir, tmp_path):
    """Fresh base artifact over the train+standing slice (the held-out
    ingest residue stays outside for the interleaving tests)."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % MOD != RES)
    path = str(tmp_path / "idx")
    similarity.write_ivfpq_index(similarity.build_ivfpq_index(corpus), path)
    return path, emb, corpus


def test_erase_serve_equals_encode_without_erased(spark, base_index):
    """serve-after-erase == serve over codes encoded from the corpus
    minus the erased vectors against the SAME frozen quantizers —
    vector for vector."""
    path, emb, corpus = base_index
    stats = similarity.ivfpq_erase(spark, path, _erase_ids(corpus))
    assert stats["n_ids"] > 0 and stats["n_cells"] > 0

    served_erased = similarity.ann_ivfpq_serve(
        similarity.read_ivfpq_index_serving(spark, path), emb, QID
    ).collect()

    idx = similarity.read_ivfpq_index(spark, path)
    survivors = corpus.filter(F.col("vec_id") % EMOD != ERES)
    rebuilt = {
        "centroids": idx["centroids"],
        "codebooks": idx["codebooks"],
        "codes": similarity.ivfpq_encode(
            survivors, idx["centroids"], idx["codebooks"]
        ),
    }
    served_rebuild = similarity.ann_ivfpq_serve(rebuilt, emb, QID).collect()
    assert served_erased == served_rebuild and len(served_erased) > 0
    erased = {r.vec_id for r in _erase_ids(corpus).collect()}
    assert not erased & {r.vec_id for r in served_erased}


def test_erase_suppresses_later_add_until_compaction(spark, base_index):
    """erase -> add interleaving: a subject erased BEFORE its vectors
    arrive in an add segment must not serve once they land; after
    compaction the tombstones are folded and cleared, and only a
    post-compaction re-add (re-consent) serves the id again."""
    path, emb, corpus = base_index
    batch = emb.filter(F.col("vec_id") % MOD == RES)
    batch_ids = {r.vec_id for r in batch.select("vec_id").collect()}
    assert batch_ids  # held-out slice is non-empty at this SF

    # erase the whole future batch while the index has no trace of it
    stats = similarity.ivfpq_erase(spark, path, batch.select("vec_id"))
    assert stats["n_ids"] == len(batch_ids) and stats["n_cells"] == 0

    # the add lands afterwards as an un-compacted segment
    idx = similarity.read_ivfpq_index(spark, path)
    similarity.ivfpq_add_batch(idx, batch).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(
        os.path.join(path, "codes_adds", "batch_id=0")
    )

    serving = similarity.read_ivfpq_index_serving(spark, path)["codes"]
    assert serving.filter(
        F.col("vec_id").isin([int(i) for i in batch_ids])
    ).count() == 0

    # compaction folds: adds and tombstones empty, erased rows gone
    stats = similarity.ivfpq_compact_segments(spark, path)
    assert stats["n_segments"] == 1 and stats["n_tombstoned"] == len(batch_ids)
    assert not os.path.isdir(os.path.join(path, "codes_adds"))
    assert not os.path.isdir(os.path.join(path, "tombstones"))
    compacted = similarity.read_ivfpq_index(spark, path)["codes"]
    assert compacted.filter(
        F.col("vec_id").isin([int(i) for i in batch_ids])
    ).count() == 0

    # re-consent: a fresh post-compaction add serves again
    similarity.ivfpq_add_batch(
        similarity.read_ivfpq_index(spark, path), batch
    ).write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(path, "codes_adds", "batch_id=1")
    )
    again = similarity.read_ivfpq_index_serving(spark, path)["codes"]
    assert again.filter(
        F.col("vec_id").isin([int(i) for i in batch_ids])
    ).count() > 0


def test_erase_add_compact_interleaving_matches_rebuild(
    spark, base_index
):
    """add -> erase(mixed base+add subjects) -> second erase ->
    compact: the compacted artifact equals encoding the surviving
    population from scratch, and serving is identical before and
    after compaction (compaction never changes a serve result)."""
    path, emb, corpus = base_index
    batch = emb.filter(F.col("vec_id") % MOD == RES)
    idx = similarity.read_ivfpq_index(spark, path)
    similarity.ivfpq_add_batch(idx, batch).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(
        os.path.join(path, "codes_adds", "batch_id=0")
    )

    # erase set straddles base corpus AND the added segment
    erase = emb.filter(F.col("vec_id") % EMOD == ERES).select("vec_id")
    similarity.ivfpq_erase(spark, path, erase)
    # a second, overlapping erase request — segments accumulate
    second = emb.filter(F.col("vec_id") % (2 * EMOD) == ERES).select(
        "vec_id"
    )
    similarity.ivfpq_erase(spark, path, second)

    served_before = similarity.ann_ivfpq_serve(
        similarity.read_ivfpq_index_serving(spark, path), emb, QID
    ).collect()

    stats = similarity.ivfpq_compact_segments(spark, path)
    assert stats["n_segments"] == 1 and stats["n_tombstoned"] > 0

    served_after = similarity.ann_ivfpq_serve(
        similarity.read_ivfpq_index_serving(spark, path), emb, QID
    ).collect()
    assert served_after == served_before

    survivors = emb.filter(F.col("vec_id") % EMOD != ERES)
    expected = similarity.ivfpq_encode(
        survivors, idx["centroids"], idx["codebooks"]
    )
    got = similarity.read_ivfpq_index(spark, path)["codes"]
    assert sorted(got.select(COLS).collect()) == sorted(
        expected.select(COLS).collect()
    )


def test_erase_is_request_sized(spark, base_index):
    """The tombstone artifact scales with the REQUEST, not the
    corpus: one segment directory, rows == |erase set| cell rows."""
    path, emb, corpus = base_index
    ids = corpus.select("vec_id").orderBy("vec_id").limit(3)
    stats = similarity.ivfpq_erase(spark, path, ids)
    # auto seg_id is a uuid now (concurrent un-keyed erases must not
    # race a max+1 directory listing), so assert shape, not value
    assert isinstance(stats["seg_id"], str) and stats["n_ids"] == 3
    ts = similarity.read_ivfpq_tombstones(spark, path)
    assert ts.count() == 3


def test_streaming_erase_then_compact_equals_batch_erase(
    spark, sf_dir, tmp_path
):
    """run_ivfpq_erase_stream: erasure requests arriving as
    micro-batches publish idempotent tombstone segments; serving
    excludes every streamed subject, a checkpoint-reset replay
    changes nothing, and compaction folds identically to a one-shot
    batch erase of the union."""
    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.streaming.pipeline import (
        drain,
        run_ivfpq_erase_stream,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % MOD != RES)
    path = str(tmp_path / "idx")
    similarity.write_ivfpq_index(similarity.build_ivfpq_index(corpus), path)

    erase = corpus.filter(F.col("vec_id") % EMOD == ERES).select("vec_id")
    erase_ids = sorted(r.vec_id for r in erase.collect())
    assert len(erase_ids) >= 2

    in_dir = str(tmp_path / "in")
    erase.repartition(2).write.mode("overwrite").parquet(in_dir)
    stream = (
        spark.readStream.schema("vec_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = run_ivfpq_erase_stream(spark, stream, path, str(tmp_path / "ckpt"))
    drain(q, "ivfpq-erase")
    # real multi-batch
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2

    serving = similarity.read_ivfpq_index_serving(spark, path)["codes"]
    assert serving.filter(F.col("vec_id").isin(erase_ids)).count() == 0

    # replay with a fresh checkpoint: segments overwrite themselves
    ts_before = sorted(
        (r.vec_id, r.cell)
        for r in similarity.read_ivfpq_tombstones(spark, path).collect()
    )
    q2 = run_ivfpq_erase_stream(
        spark,
        spark.readStream.schema("vec_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir),
        path,
        str(tmp_path / "ckpt_replay"),
    )
    assert q2.awaitTermination(300)
    ts_after = sorted(
        (r.vec_id, r.cell)
        for r in similarity.read_ivfpq_tombstones(spark, path).collect()
    )
    assert ts_after == ts_before

    stats = similarity.ivfpq_compact_segments(spark, path)
    assert stats["n_tombstoned"] == len(erase_ids)
    got = similarity.read_ivfpq_index(spark, path)["codes"]
    idx = {"centroids": got.sparkSession.read.parquet(f"{path}/centroids"),
           "codebooks": got.sparkSession.read.parquet(f"{path}/codebooks")}
    survivors = corpus.filter(F.col("vec_id") % EMOD != ERES)
    expected = similarity.ivfpq_encode(
        survivors, idx["centroids"], idx["codebooks"]
    )
    assert sorted(got.select(COLS).collect()) == sorted(
        expected.select(COLS).collect()
    )


def test_erasure_audit_counts_live_vs_tombstoned(spark, base_index):
    path, emb, corpus = base_index
    before = similarity.ivfpq_erasure_audit(spark, path).collect()
    assert all(r.n_tombstoned == 0 and r.tombstoned_ppm == 0 for r in before)
    n_total = sum(r.n_live for r in before)

    erase = corpus.filter(F.col("vec_id") % EMOD == ERES).select("vec_id")
    n_erased = erase.count()
    similarity.ivfpq_erase(spark, path, erase)
    after = similarity.ivfpq_erasure_audit(spark, path).collect()
    assert sum(r.n_tombstoned for r in after) == n_erased
    assert sum(r.n_live + r.n_tombstoned for r in after) == n_total
    # fold clears the ledger
    similarity.ivfpq_compact_segments(spark, path)
    clean = similarity.ivfpq_erasure_audit(spark, path).collect()
    assert all(r.n_tombstoned == 0 for r in clean)
    assert sum(r.n_live for r in clean) == n_total - n_erased


def test_band_index_erase_probe_and_compact(spark, sf_dir, tmp_path):
    """Band-index right-to-be-forgotten: tombstoned doc_ids never
    surface as probe candidates, probe-after-erase equals probing an
    index built without them, and compaction physically removes
    their signature rows."""
    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators import (
        dedup,
    )
    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.sources.readers import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    batch = dedup.with_synthetic_dupes(docs).filter(
        F.col("doc_id") >= 100000
    )
    path = str(tmp_path / "bidx")
    dedup.write_band_index(docs, path)

    erase = docs.filter(
        F.col("doc_id") % dedup.BAND_ERASE_MOD == dedup.BAND_ERASE_RESIDUE
    ).select("doc_id")
    erase_ids = {r.doc_id for r in erase.collect()}
    stats = dedup.band_index_erase(spark, path, erase)
    assert stats["n_ids"] == len(erase_ids) > 0

    probed = dedup.incremental_near_dups_indexed(
        spark, path, docs, batch
    ).collect()
    assert probed and not erase_ids & {r.doc_a for r in probed}

    # equivalence: an index that never contained the erased docs
    clean = str(tmp_path / "bidx_clean")
    dedup.write_band_index(
        docs.join(erase, "doc_id", "left_anti"), clean
    )
    expected = dedup.incremental_near_dups_indexed(
        spark, clean, docs, batch
    ).collect()
    key = lambda r: (r.doc_a, r.doc_b)  # noqa: E731
    assert sorted(probed, key=key) == sorted(expected, key=key)

    # fold: tombstones gone, signature rows physically removed,
    # probe unchanged
    assert dedup.band_index_compact(spark, path)["n_tombstoned"] == len(
        erase_ids
    )
    assert dedup.read_band_tombstones(spark, path) is None
    bands = spark.read.parquet(f"{path}/bands")
    assert bands.filter(
        F.col("doc_id").isin([int(i) for i in erase_ids])
    ).count() == 0
    after = dedup.incremental_near_dups_indexed(
        spark, path, docs, batch
    ).collect()
    assert sorted(after, key=key) == sorted(probed, key=key)
    # idempotent: nothing left to fold
    assert dedup.band_index_compact(spark, path) == {
        "n_tombstoned": 0,
        "n_add_segments": 0,
    }
