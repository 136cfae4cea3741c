"""Concurrent un-keyed erases must not collide on a segment name
(VERDICT r9 "What's wrong" #1): manifest_erase already defaults
seg_id to a uuid, but chunk_index_erase / band_index_erase /
ivfpq_erase defaulted to max+1 over a directory listing — two
threads list the same directory, allocate the same seg_id, and one
mode("overwrite") clobbers the other's segment. These tests port
tests/test_erase_idempotency.py::
test_manifest_concurrent_unkeyed_erases_do_not_collide to the three
remaining erase ledgers: fire two un-keyed erases with disjoint
subject sets from two threads, then assert TWO distinct segments
exist and the pending ledger covers the UNION of both sets.

(Deterministic regardless of thread interleaving: even if the
threads fully serialize, the uuid default still yields two distinct
segments; under the old max+1 default a genuine race collapses them
to one. The invariant asserted — both requests' subjects pending —
is what production loses when the race fires.)"""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators import (
    dedup,
    similarity,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.sources.readers import (
    load_table,
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


def _run_concurrent(fn, a, b):
    """Run fn on each arg in its own thread; return (results, errors)."""
    results, errors = [], []

    def run(arg):
        try:
            results.append(fn(arg))
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    ts = [threading.Thread(target=run, args=(x,)) for x in (a, b)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return results, errors


def _segments(path, sub):
    d = os.path.join(path, sub)
    return [e for e in os.listdir(d) if e.startswith("seg_id=")]


def test_band_concurrent_unkeyed_erases_do_not_collide(spark, tmp_path):
    docs = _docs(spark, range(30))
    path = str(tmp_path / "bidx")
    dedup.write_band_index(docs, path)
    e1 = _docs(spark, range(0, 4)).select("doc_id")
    e2 = _docs(spark, range(4, 8)).select("doc_id")

    results, errors = _run_concurrent(
        lambda er: dedup.band_index_erase(spark, path, er), e1, e2
    )
    assert not errors
    assert len(_segments(path, "tombstones")) == 2
    assert sum(r["n_ids"] for r in results) == 8
    ts = dedup.read_band_tombstones(spark, path)
    assert {r.doc_id for r in ts.collect()} == set(range(8))
    # serving honors the union: no erased doc's bands remain visible
    served = dedup.read_band_index_serving(spark, path)
    assert served.filter(F.col("doc_id") < 8).count() == 0


def test_chunk_concurrent_unkeyed_erases_do_not_collide(spark, tmp_path):
    docs = _docs(spark, range(30))
    path = str(tmp_path / "cidx")
    pipeline.build_chunk_digest_index(docs, path)
    e1 = docs.filter(F.col("doc_id") < 4)
    e2 = docs.filter((F.col("doc_id") >= 4) & (F.col("doc_id") < 8))

    results, errors = _run_concurrent(
        lambda er: pipeline.chunk_index_erase(spark, path, er), e1, e2
    )
    assert not errors
    assert len(_segments(path, "erases")) == 2
    assert sum(r["n_subjects"] for r in results) == 8
    # the pending-subject ledger covers BOTH requests — a repeat of
    # either is suppressed, and compaction folds the union out
    pending = pipeline._known_erased_subjects(spark, path, "erases")
    assert {r.doc_id for r in pending.collect()} == set(range(8))
    pipeline.chunk_index_compact(spark, path)
    base = spark.read.parquet(os.path.join(path, "base"))
    clean = dedup.chunk_digest_index(docs.filter(F.col("doc_id") >= 8))
    key = lambda r: (r.digest,)  # noqa: E731
    assert sorted(base.collect(), key=key) == sorted(
        clean.collect(), key=key
    )


def test_ivfpq_concurrent_unkeyed_erases_do_not_collide(
    spark, sf_dir, tmp_path
):
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    similarity.write_ivfpq_index(similarity.build_ivfpq_index(emb), path)
    e1 = emb.filter(F.col("vec_id") < 4).select("vec_id")
    e2 = emb.filter(
        (F.col("vec_id") >= 4) & (F.col("vec_id") < 8)
    ).select("vec_id")

    results, errors = _run_concurrent(
        lambda er: similarity.ivfpq_erase(spark, path, er), e1, e2
    )
    assert not errors
    assert len(_segments(path, "tombstones")) == 2
    assert sum(r["n_ids"] for r in results) == 8
    ts = similarity.read_ivfpq_tombstones(spark, path)
    assert {r.vec_id for r in ts.collect()} == set(range(8))
    served = similarity.read_ivfpq_index_serving(spark, path)["codes"]
    assert served.filter(F.col("vec_id") < 8).count() == 0


def test_known_subjects_skip_uncommitted_segment_dirs(spark, tmp_path):
    """The concurrency flake's root cause, pinned: a sibling
    thread's erase segment exists MID-WRITE with only a _temporary
    subtree inside — the per-child parquet read used to throw
    AnalysisException. The _SUCCESS gate skips it (its subjects are
    not yet 'known'; overlap dedupes at aggregation time)."""
    docs = _docs(spark, range(20))
    cidx = str(tmp_path / "cidx")
    pipeline.build_chunk_digest_index(docs, cidx)
    pipeline.chunk_index_erase(
        spark, cidx, docs.filter(F.col("doc_id") < 3), seg_id=1
    )
    # plant the mid-write state a concurrent erase exposes
    torn = os.path.join(cidx, "erases", "seg_id=racing", "_temporary", "0")
    os.makedirs(torn)
    known = pipeline._known_erased_subjects(spark, cidx, "erases")
    assert {r.doc_id for r in known.collect()} == {0, 1, 2}

    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.streaming.pipeline import (
        _known_erased_subjects,
        build_manifest_artifact,
        manifest_erase,
    )

    m = str(tmp_path / "m")
    build_manifest_artifact(docs, m)
    manifest_erase(spark, m, docs.filter(F.col("doc_id") < 2), seg_id=1)
    os.makedirs(
        os.path.join(m, "erase_subjects", "seg_id=racing", "_temporary")
    )
    mk = _known_erased_subjects(spark, m, "erase_subjects")
    assert {r.doc_id for r in mk.collect()} == {0, 1}


def test_prefix_index_read_skips_uncommitted_add_dirs(spark, tmp_path):
    """Same hazard class on the SFT prefix index's serving read: a
    CONCURRENT gate batch's adds/batch_id=N dir exists mid-write
    with only a _temporary subtree — the per-child read used to
    throw. The _SUCCESS gate skips it (an uncommitted batch's
    prefixes are not yet published; its foreachBatch replay re-lands
    them idempotently) while committed adds still serve."""
    convs = spark.createDataFrame(
        [(int(i), f"u: prefix conv {i}") for i in range(6)],
        "doc_id long, text string",
    )
    pfx = str(tmp_path / "pfx")
    pipeline.build_sft_prefix_index(convs, pfx)
    base = pipeline.read_sft_prefix_index(spark, pfx)
    # a COMMITTED add segment (Spark write stamps _SUCCESS)
    base.limit(1).select(
        (F.col("doc_id") + 100).alias("doc_id"), "u_idx", "prefix_digest"
    ).write.parquet(os.path.join(pfx, "adds", "batch_id=0"))
    # the mid-write state a concurrent gate batch exposes
    os.makedirs(
        os.path.join(pfx, "adds", "batch_id=1", "_temporary", "0")
    )
    rel = pipeline.read_sft_prefix_index(spark, pfx)
    ids = {r.doc_id for r in rel.select("doc_id").distinct().collect()}
    assert set(range(6)).issubset(ids) and any(i >= 100 for i in ids)
