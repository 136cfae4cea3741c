"""Erasure idempotency + re-consent on the manifest artifact, and
the chunk-index re-consent interleaving gap (ADVICE r8, both
mediums; VERDICT r8 "What's wrong" #2 for the seg_id race).

The manifest's xor algebra makes a REPEATED erase request uniquely
dangerous: xor self-inverts, so a duplicate erase segment would
double-subtract the counts and RE-ADD the erased docs' digest terms
into the serving fold — silent corruption. The fix mirrors the chunk
index's discipline: per-segment subject sidecars + a post-fold
suppression ledger, requests anti-joined against both, repeats
surfaced as n_suppressed, and re-ingestion releasing the suppression
(content re-entering IS the re-consent event)."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators import (
    dedup,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.streaming import (
    pipeline,
)

pytestmark = pytest.mark.filterwarnings("ignore")


def _docs(spark, ids):
    rows = [
        (int(i), " ".join(f"w{i}x{j} tok{j}" for j in range(12)))
        for i in ids
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _fold(spark, path):
    return {
        r.shard: (r.n_docs, r.n_tokens, r.content_xor)
        for r in pipeline.read_manifest_serving(spark, path).collect()
    }


def _rebuilt(rel):
    return {
        r.shard: (r.n_docs, r.n_tokens, r.content_xor)
        for r in pipeline._manifest_shard_rows(rel).collect()
    }


def test_manifest_erase_repeat_requests_are_suppressed(spark, tmp_path):
    """Repeat of a PENDING request → no second segment; repeat of a
    FOLDED request → suppressed via the ledger; partial-overlap
    request applies only its fresh subjects. The serving fold stays
    exactly rebuild-without-erased throughout — with the old
    max+1-segment behavior every repeat here would have cancelled
    the xor terms back in."""
    docs = _docs(spark, range(30))
    erase = _docs(spark, range(0, 6))
    survivors = docs.filter(F.col("doc_id") >= 6)
    path = str(tmp_path / "m")
    pipeline.build_manifest_artifact(docs, path)

    st1 = pipeline.manifest_erase(spark, path, erase)
    assert st1["n_docs_erased"] == 6 and st1["n_suppressed"] == 0
    want = _rebuilt(survivors)
    assert _fold(spark, path) == want

    # repeat while PENDING: fully suppressed, fold unchanged
    st2 = pipeline.manifest_erase(spark, path, erase)
    assert st2["n_docs_erased"] == 0 and st2["n_suppressed"] == 6
    assert st2["seg_id"] is None
    assert _fold(spark, path) == want

    # fold permanently; repeat AFTER the fold: ledger suppresses
    pipeline.manifest_compact(spark, path)
    assert _fold(spark, path) == want
    st3 = pipeline.manifest_erase(spark, path, erase)
    assert st3["n_docs_erased"] == 0 and st3["n_suppressed"] == 6
    assert _fold(spark, path) == want

    # partial overlap: only the fresh subjects apply
    st4 = pipeline.manifest_erase(spark, path, _docs(spark, range(3, 9)))
    assert st4["n_docs_erased"] == 3 and st4["n_suppressed"] == 3
    assert _fold(spark, path) == _rebuilt(
        docs.filter(F.col("doc_id") >= 9)
    )


def test_manifest_reingest_releases_suppression(spark, tmp_path):
    """Re-consent through the UPDATE STREAM: after erase+compact, the
    subject's content legitimately re-enters via a micro-batch — the
    gate's release_erased_subjects lifts the suppression, so a
    LATER erase request applies instead of being dropped forever
    (the ADVICE r8 unerasable-live-content hazard, manifest edition).
    """
    import glob
    import shutil

    docs = _docs(spark, range(30))
    erase = _docs(spark, range(0, 6))
    path = str(tmp_path / "m")
    pipeline.build_manifest_artifact(docs, path)
    pipeline.manifest_erase(spark, path, erase)
    pipeline.manifest_compact(spark, path)
    assert os.path.isdir(os.path.join(path, "erased_subjects"))

    # the erased subjects' content re-enters via the stream
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    stage = str(tmp_path / "stage")
    erase.coalesce(1).write.parquet(stage)
    shutil.move(
        glob.glob(f"{stage}/part-*.parquet")[0], f"{in_dir}/b0.parquet"
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(in_dir)
    )
    q = pipeline.run_manifest_update_stream(
        spark, stream, path, str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(300)
    assert _fold(spark, path) == _rebuilt(docs)  # contribution is back
    # suppression lifted for exactly the re-entered subjects
    assert not os.path.isdir(os.path.join(path, "erased_subjects"))

    st = pipeline.manifest_erase(spark, path, erase)
    assert st["n_docs_erased"] == 6 and st["n_suppressed"] == 0
    assert _fold(spark, path) == _rebuilt(
        docs.filter(F.col("doc_id") >= 6)
    )


def test_manifest_compact_excludes_readded_subjects_from_ledger(
    spark, tmp_path
):
    """The interleaving gap, manifest edition: erase PENDING when the
    subject's content re-enters via an adds batch → the fold keeps
    the re-added contribution, so the compaction must NOT suppress
    the subject (its content is demonstrably not gone) — a later
    erase request must apply."""
    docs = _docs(spark, range(30))
    erase = _docs(spark, range(0, 6))
    path = str(tmp_path / "m")
    pipeline.build_manifest_artifact(docs, path)
    pipeline.manifest_erase(spark, path, erase)
    # re-entry lands while the erase segment is still pending (the
    # gate's writes, minus the stream machinery)
    pipeline._manifest_shard_rows(erase).write.parquet(
        os.path.join(path, "adds", "batch_id=1")
    )
    erase.select("doc_id").write.parquet(
        os.path.join(path, "add_subjects", "batch_id=1")
    )
    pipeline.manifest_compact(spark, path)
    # fold kept the re-added contribution
    assert _fold(spark, path) == _rebuilt(docs)
    # …and the subjects are NOT suppressed: erasing again applies
    st = pipeline.manifest_erase(spark, path, erase)
    assert st["n_docs_erased"] == 6 and st["n_suppressed"] == 0
    assert _fold(spark, path) == _rebuilt(
        docs.filter(F.col("doc_id") >= 6)
    )


def test_manifest_concurrent_unkeyed_erases_do_not_collide(
    spark, tmp_path
):
    """VERDICT r8 #2: auto seg_ids are uuids now — two concurrent
    un-keyed erases land in two distinct segments instead of racing
    max+1 and overwriting each other."""
    docs = _docs(spark, range(30))
    e1 = _docs(spark, range(0, 4))
    e2 = _docs(spark, range(4, 8))
    path = str(tmp_path / "m")
    pipeline.build_manifest_artifact(docs, path)

    results, errors = [], []

    def run(er):
        try:
            results.append(pipeline.manifest_erase(spark, path, er))
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    ts = [threading.Thread(target=run, args=(e,)) for e in (e1, e2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors
    segs = [
        e
        for e in os.listdir(os.path.join(path, "erases"))
        if e.startswith("seg_id=")
    ]
    assert len(segs) == 2
    assert sum(r["n_docs_erased"] for r in results) == 8
    assert _fold(spark, path) == _rebuilt(
        docs.filter(F.col("doc_id") >= 8)
    )


def test_manifest_orphan_sidecar_is_repaired(spark, tmp_path):
    """A crash between the sidecar write and the delta write leaves
    an orphan sidecar; the next lifecycle entry repairs it, so the
    re-issued request applies instead of being suppressed by its own
    wreckage."""
    docs = _docs(spark, range(30))
    erase = _docs(spark, range(0, 6))
    path = str(tmp_path / "m")
    pipeline.build_manifest_artifact(docs, path)
    # simulate the torn erase: sidecar only, no delta
    erase.select("doc_id").write.parquet(
        os.path.join(path, "erase_subjects", "seg_id=dead")
    )
    st = pipeline.manifest_erase(spark, path, erase)
    assert st["n_docs_erased"] == 6 and st["n_suppressed"] == 0
    assert _fold(spark, path) == _rebuilt(
        docs.filter(F.col("doc_id") >= 6)
    )


def test_chunk_index_interleaved_reentry_stays_erasable(spark, tmp_path):
    """ADVICE r8 medium #2, the exact interleaving: subject erased
    (segment PENDING, suppression ledger doesn't exist yet) → its
    content re-enters via a stream batch (release is a no-op) →
    compaction folds both. The re-added refs survive the fold, so
    the compaction must EXCLUDE the subject from the suppression
    ledger — otherwise every future erase request is dropped and the
    live content is permanently unerasable."""
    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators.text import (
        cdc_chunk_table,
    )

    docs = _docs(spark, range(20))
    subj = _docs(spark, range(0, 3))
    path = str(tmp_path / "c")
    pipeline.build_chunk_digest_index(docs, path)
    subj_digests = sorted(
        r.digest
        for r in cdc_chunk_table(subj).select("digest").distinct().collect()
    )

    st = pipeline.chunk_index_erase(spark, path, subj, seg_id=0)
    assert st["n_subjects"] == 3

    # re-entry while the erase is PENDING — exactly what the stream
    # gate writes per micro-batch (the pending erase already hides
    # the subject's digests, so they re-enter as NEW digests)
    idx = pipeline.read_chunk_digest_index(spark, path)
    marked = dedup.chunk_dedup_marked(idx, cdc_chunk_table(subj))
    dedup.new_digest_refs_from_marked(marked).write.parquet(
        os.path.join(path, "adds", "batch_id=1")
    )
    dedup.rereference_refs_from_marked(marked).write.parquet(
        os.path.join(path, "rerefs", "batch_id=1")
    )
    dedup.ledger_from_marked(marked).write.parquet(
        os.path.join(path, "ledger", "batch_id=1")
    )
    pipeline.release_erased_subjects(
        spark, path, subj.select("doc_id")
    )  # ledger doesn't exist yet — the no-op that opened the gap

    pipeline.chunk_index_compact(spark, path)
    # the re-added content is LIVE after the fold…
    alive = {
        r.digest
        for r in pipeline.read_chunk_digest_index(spark, path).collect()
    }
    assert set(subj_digests) <= alive
    # …and the subject is NOT suppressed: a fresh erase applies and,
    # once folded, physically removes the digests
    st2 = pipeline.chunk_index_erase(spark, path, subj)
    assert st2["n_subjects"] == 3 and st2["n_suppressed"] == 0
    pipeline.chunk_index_compact(spark, path)
    alive2 = {
        r.digest
        for r in pipeline.read_chunk_digest_index(spark, path).collect()
    }
    assert not set(subj_digests) & alive2


def test_suppression_ledger_swap_is_crash_fenced(spark, tmp_path):
    """A crash between the suppression-ledger rename-swap's two
    renames used to leave NO ledger — indistinguishable from a
    legitimately empty one, so a repeat of an already-folded erase
    request would double-apply. The fenced swap's recovery must roll
    the torn state to the fully-written scratch (or back to the old
    dir), never to 'missing'."""
    import json
    import shutil

    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators import (
        artifact_lifecycle as alc,
    )

    docs = _docs(spark, range(30))
    erase = _docs(spark, range(0, 6))
    path = str(tmp_path / "m")
    pipeline.build_manifest_artifact(docs, path)
    pipeline.manifest_erase(spark, path, erase)
    pipeline.manifest_compact(spark, path)
    led = os.path.join(path, "erased_subjects")
    assert os.path.isdir(led)

    # tear the swap at its worst point: ledger renamed away, scratch
    # not yet renamed in (exactly what atomic_swap_dir's marker
    # window looks like after the first rename)
    scratch = os.path.join(path, ".erased_subjects_scratch")
    shutil.copytree(led, scratch)
    marker = {
        "name": "erased_subjects",
        "old": ".erased_subjects_old_torn",
        "scratch": ".erased_subjects_scratch",
    }
    with open(
        os.path.join(path, "._SWAP_PENDING_erased_subjects.json"), "w"
    ) as fh:
        json.dump(marker, fh)
    os.rename(led, os.path.join(path, ".erased_subjects_old_torn"))
    assert not os.path.isdir(led)  # the old hazard: ledger 'missing'

    # the next erase entry recovers the ledger and SUPPRESSES the
    # repeat instead of double-applying it
    st = pipeline.manifest_erase(spark, path, erase)
    assert st["n_docs_erased"] == 0 and st["n_suppressed"] == 6
    assert os.path.isdir(led)
    assert _fold(spark, path) == _rebuilt(
        docs.filter(F.col("doc_id") >= 6)
    )

    # roll-BACK case: marker + old dir only (scratch never written)
    os.rename(led, os.path.join(path, ".erased_subjects_old_torn2"))
    with open(
        os.path.join(path, "._SWAP_PENDING_erased_subjects.json"), "w"
    ) as fh:
        json.dump(
            {
                "name": "erased_subjects",
                "old": ".erased_subjects_old_torn2",
                "scratch": ".gone",
            },
            fh,
        )
    assert alc.recover_torn_swap(path, "erased_subjects") == "rolled_back"
    st2 = pipeline.manifest_erase(spark, path, erase)
    assert st2["n_suppressed"] == 6


def test_manifest_release_recovers_a_torn_ledger_swap(spark, tmp_path):
    """Re-ingesting a subject while the suppression ledger's swap is
    torn (ledger renamed away, marker pending) must still release it:
    the release recovers the swap first instead of reading the missing
    ledger as empty and leaving the subject suppressed once a later
    entry restores the ledger."""
    import json
    import shutil

    docs = _docs(spark, range(30))
    erase = _docs(spark, range(0, 6))
    path = str(tmp_path / "m")
    pipeline.build_manifest_artifact(docs, path)
    pipeline.manifest_erase(spark, path, erase)
    pipeline.manifest_compact(spark, path)
    led = os.path.join(path, "erased_subjects")
    shutil.copytree(led, os.path.join(path, ".erased_subjects_scratch"))
    with open(
        os.path.join(path, "._SWAP_PENDING_erased_subjects.json"), "w"
    ) as fh:
        json.dump(
            {
                "name": "erased_subjects",
                "old": ".erased_subjects_old_torn",
                "scratch": ".erased_subjects_scratch",
            },
            fh,
        )
    os.rename(led, os.path.join(path, ".erased_subjects_old_torn"))

    # subject 0 re-enters through the manifest's adds door
    pipeline.manifest_add_batch(spark, path, _docs(spark, [0]), 7)
    st = pipeline.manifest_erase(spark, path, _docs(spark, [0]))
    assert st["n_docs_erased"] == 1 and st["n_suppressed"] == 0
    left = {r.doc_id for r in spark.read.parquet(led).collect()}
    assert left == set(range(1, 6))
