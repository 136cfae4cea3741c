"""Streaming tests (SURVEY §5.4): file source + availableNow trigger +
idempotent parquet sinks; restart/exactly-once; watermark dedup;
windowed + session aggregates."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.schemas import (
    PROFILE_COLUMNS,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.sources.synthetic import (
    write_envelopes_jsonl,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.streaming import (
    pipeline,
)


@pytest.fixture()
def stream_dirs(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return {
        "src": str(src),
        "sink_a": str(tmp_path / "sink_a"),
        "sink_b": str(tmp_path / "sink_b"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _feed(src_dir: str, n: int, start: int = 1, name: str = "a.jsonl") -> None:
    write_envelopes_jsonl(os.path.join(src_dir, name), n, start=start)


def test_fanout_writes_all_sinks_consistently(spark, stream_dirs):
    _feed(stream_dirs["src"], 200)
    source = pipeline.read_envelope_file_stream(spark, stream_dirs["src"])
    q = pipeline.run_pipeline(
        spark, source, [stream_dirs["sink_a"], stream_dirs["sink_b"]], stream_dirs["ckpt"]
    )
    pipeline.drain(q, "fan-out")
    a = spark.read.parquet(stream_dirs["sink_a"])
    b = spark.read.parquet(stream_dirs["sink_b"])
    # batch parity: same transform in batch mode gives identical rows
    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators import etl
    batch = etl.curate_profiles(
        etl.parse_envelopes(spark.read.text(stream_dirs["src"]))
    )
    assert a.count() == b.count() == batch.count()
    assert a.select("id").subtract(batch.select("id")).count() == 0


def test_restart_resumes_without_duplicates(spark, stream_dirs):
    _feed(stream_dirs["src"], 100, start=1, name="a.jsonl")
    source = pipeline.read_envelope_file_stream(spark, stream_dirs["src"])
    q = pipeline.run_pipeline(spark, source, [stream_dirs["sink_a"]], stream_dirs["ckpt"])
    pipeline.drain(q, "first run")
    n1 = spark.read.parquet(stream_dirs["sink_a"]).count()

    # new file arrives; restart from the same checkpoint
    _feed(stream_dirs["src"], 100, start=1001, name="b.jsonl")
    source2 = pipeline.read_envelope_file_stream(spark, stream_dirs["src"])
    q2 = pipeline.run_pipeline(spark, source2, [stream_dirs["sink_a"]], stream_dirs["ckpt"])
    pipeline.drain(q2, "restarted run")

    out = spark.read.parquet(stream_dirs["sink_a"])
    n2 = out.count()
    assert n2 > n1  # new data processed
    assert out.select("id").distinct().count() == n2  # no replays/dups


def test_streaming_dedup_drops_duplicate_ids(spark, stream_dirs):
    # same ids twice (two identical files) → dedup keeps one each
    _feed(stream_dirs["src"], 50, start=1, name="a.jsonl")
    _feed(stream_dirs["src"], 50, start=1, name="b.jsonl")
    source = pipeline.read_envelope_file_stream(spark, stream_dirs["src"])
    deduped = pipeline.deduped_stream(source)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", stream_dirs["ckpt"])
        .start()
    )
    pipeline.drain(q, "dedup")
    out = spark.sql("SELECT id FROM dedup_out")
    assert out.count() == out.distinct().count()
    # 50 users, none with null uuid below 101; all adults in this range
    assert out.count() == 50


def test_streaming_windowed_registrations(spark, stream_dirs):
    _feed(stream_dirs["src"], 300)
    source = pipeline.read_envelope_file_stream(spark, stream_dirs["src"])
    q = (
        pipeline.registrations_per_window(source, window="30 days")
        .writeStream.format("memory")
        .queryName("reg_windows")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", stream_dirs["ckpt"])
        .start()
    )
    pipeline.drain(q, "windowed registrations")
    rows = spark.sql("SELECT * FROM reg_windows").collect()
    # append mode emits only the windows the watermark closed: those
    # ending at or before the latest event time minus the 1-day delay
    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators import etl

    curated = etl.curate_profiles(
        etl.parse_envelopes(spark.read.text(stream_dirs["src"]))
    ).select(F.to_timestamp("inscription").alias("t"))
    watermark = curated.agg(F.max("t")).collect()[0][0] - dt.timedelta(days=1)
    closed = curated.groupBy(F.window("t", "30 days").alias("w")).count().filter(
        F.col("w.end") <= F.lit(watermark)
    )
    expected = closed.agg(F.sum("count")).collect()[0][0]
    assert 0 < expected < 300
    assert sum(r.registrations for r in rows) == expected


def test_streaming_session_window(spark, stream_dirs, tmp_path):
    t0 = dt.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [
            Row(user_id=1, ts=t0),
            Row(user_id=1, ts=t0 + dt.timedelta(minutes=5)),
            Row(user_id=1, ts=t0 + dt.timedelta(minutes=60)),
            Row(user_id=2, ts=t0),
        ]
    )
    src = str(tmp_path / "events_pq")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        pipeline.sessionized_stream(stream, gap="10 minutes")
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    pipeline.drain(q, "session windows")
    got = {
        (r.user_id, r.session_start): r.n_events
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    }
    assert got[(1, t0)] == 2
    assert got[(1, t0 + dt.timedelta(minutes=60))] == 1
    assert got[(2, t0)] == 1


def test_stream_static_join_enriches(spark, stream_dirs):
    from pyspark.sql import Row

    _feed(stream_dirs["src"], 60)
    dim = spark.createDataFrame(
        [Row(gender="male", code="M"), Row(gender="female", code="F")]
    )
    source = pipeline.read_envelope_file_stream(spark, stream_dirs["src"])
    q = (
        pipeline.enriched_stream(source, dim)
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", stream_dirs["ckpt"])
        .start()
    )
    pipeline.drain(q, "enrichment")
    out = spark.sql("SELECT * FROM enriched")
    assert out.filter("code IS NULL").count() == 0
    assert {r.code for r in out.select("code").distinct().collect()} == {"M", "F"}


def test_dead_letter_sink_captures_malformed(spark, stream_dirs, tmp_path):
    write_envelopes_jsonl(
        os.path.join(stream_dirs["src"], "a.jsonl"), 90, malformed_every=9
    )  # 10 malformed lines
    dl = str(tmp_path / "dead")
    source = pipeline.read_envelope_file_stream(spark, stream_dirs["src"])
    q = pipeline.run_pipeline(
        spark,
        source,
        [stream_dirs["sink_a"]],
        stream_dirs["ckpt"],
        dead_letter_dir=dl,
    )
    pipeline.drain(q, "dead-letter fan-out")
    dead = spark.read.parquet(dl)
    assert dead.count() == 10
    # one write per batch: every sink gets the profile columns plus
    # _corrupt_record (the raw line), and batch_id is the hive
    # partition dir
    union = PROFILE_COLUMNS + ["_corrupt_record", "batch_id"]
    assert dead.columns == union
    good = spark.read.parquet(stream_dirs["sink_a"])
    assert good.count() == 80  # 90 - 10 malformed (no null-ids < 101)
    assert good.columns == union


def test_idempotent_batch_overwrite(spark, stream_dirs):
    """Replaying a batch id must replace, not append (the multi-sink
    exactly-once mechanism)."""
    _feed(stream_dirs["src"], 40)
    source = pipeline.read_envelope_file_stream(spark, stream_dirs["src"])
    q = pipeline.run_pipeline(spark, source, [stream_dirs["sink_a"]], stream_dirs["ckpt"])
    pipeline.drain(q, "replayed fan-out")
    before = spark.read.parquet(stream_dirs["sink_a"]).count()
    # simulate a replay of batch 0: write the same batch dir again
    batch0 = glob.glob(os.path.join(stream_dirs["sink_a"], "batch_id=*"))[0]
    # localCheckpoint truncates lineage so the overwrite doesn't read
    # from the directory it is replacing
    df = spark.read.parquet(batch0).localCheckpoint()
    df.write.mode("overwrite").parquet(batch0)
    after = spark.read.parquet(stream_dirs["sink_a"]).count()
    assert before == after


def test_streaming_dedup_within_watermark_bounds_state(spark, stream_dirs):
    # duplicates arriving together (the at-least-once retry shape)
    # collapse to one row per id, same as unbounded dropDuplicates —
    # but the state store only retains ids inside the watermark horizon
    _feed(stream_dirs["src"], 50, start=1, name="a.jsonl")
    _feed(stream_dirs["src"], 50, start=1, name="b.jsonl")
    source = pipeline.read_envelope_file_stream(spark, stream_dirs["src"])
    deduped = pipeline.deduped_stream_within_watermark(source)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_wm_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", stream_dirs["ckpt"])
        .start()
    )
    pipeline.drain(q, "dedup within watermark")
    out = spark.sql("SELECT id FROM dedup_wm_out")
    assert out.count() == out.distinct().count() == 50


def test_foreachbatch_incremental_rollup_maintenance(spark, tmp_path):
    """The continuous-aggregate maintenance loop end to end: an event
    stream arrives in micro-batches; foreachBatch recomputes ONLY the
    minute buckets each batch touches and merges them into a standing
    parquet rollup. After both batches the table must equal the full
    recompute over all events — the same contract the batch
    rollup_incremental_refresh query proves against its oracle."""
    from pyspark.sql import functions as F

    src = tmp_path / "events_src"
    src.mkdir()
    rollup_path = str(tmp_path / "rollup")
    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        Row(
            event_id=i,
            ts=base + dt.timedelta(seconds=37 * i),
            user_id=i % 5,
            value=float(i),
        )
        for i in range(200)
    ]
    df = spark.createDataFrame(rows)
    def land(subset, name):
        # the file source lists plain files, not nested write dirs —
        # land each arrival as a single part file
        import shutil

        tmp = str(tmp_path / ("stage_" + name))
        subset.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, str(src / name))

    # two arrivals that overlap in time → batch 2 must invalidate
    # buckets batch 1 already aggregated
    land(df.filter("event_id % 3 != 0"), "b1.parquet")

    def refresh(batch_df, _batch_id):
        dirty = batch_df.select(
            F.date_trunc("minute", "ts").alias("bucket_start")
        ).distinct()
        try:
            standing = spark.read.parquet(rollup_path)
            keep = standing.join(F.broadcast(dirty), "bucket_start", "left_anti")
        except Exception:
            keep = None
        seen_path = str(tmp_path / "seen")
        batch_df.write.mode("append").parquet(seen_path)
        recomputed = (
            spark.read.parquet(seen_path)
            .withColumn("bucket_start", F.date_trunc("minute", "ts"))
            .join(F.broadcast(dirty), "bucket_start", "left_semi")
            .groupBy("bucket_start")
            .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        )
        out = recomputed if keep is None else keep.unionByName(recomputed)
        out.write.mode("overwrite").parquet(rollup_path + "_next")
        spark.read.parquet(rollup_path + "_next").write.mode("overwrite").parquet(
            rollup_path
        )

    def run_stream():
        q = (
            spark.readStream.schema("event_id long, ts timestamp, user_id long, value double")
            .parquet(str(src))
            .writeStream.foreachBatch(refresh)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        pipeline.drain(q, "rollup maintenance")

    run_stream()
    land(df.filter("event_id % 3 = 0"), "b2.parquet")
    run_stream()

    got = {
        (r.bucket_start, r.n_events, round(r.sum_value, 2))
        for r in spark.read.parquet(rollup_path).collect()
    }
    want = {
        (r.bucket_start, r.n_events, round(r.sum_value, 2))
        for r in df.groupBy(F.date_trunc("minute", "ts").alias("bucket_start"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .collect()
    }
    assert got == want


def test_drift_monitor_flags_unseen_type_and_null_sigma_baseline(
    spark, tmp_path
):
    """An event_type absent from the training baseline is the
    strongest drift signal: it must SURVIVE the baseline join
    (left join) with baseline_missing=true and alert=true; a
    baseline type with one training row (NULL stddev_samp) must
    alert loudly, not emit a NULL flag (ADVICE r3)."""
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    baseline = spark.createDataFrame(
        [Row(event_type="view", value=float(v), ts=t0) for v in (1, 2, 3)]
        + [Row(event_type="solo", value=5.0, ts=t0)]  # 1 row -> NULL sigma
    )
    stream_rows = [
        Row(event_id=1, ts=t0, user_id=1, event_type="view", value=2.0),
        Row(event_id=2, ts=t0, user_id=1, event_type="solo", value=5.0),
        Row(event_id=3, ts=t0, user_id=1, event_type="brand_new", value=9.0),
    ]
    src = str(tmp_path / "drift_src")
    spark.createDataFrame(stream_rows).write.parquet(src)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    ).parquet(src)
    out = pipeline.drift_monitor_stream(stream, baseline)
    name = "drift_mon_test"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    pipeline.drain(q, "drift monitor")
    got = {r.event_type: r for r in spark.table(name).collect()}
    assert set(got) == {"view", "solo", "brand_new"}
    assert got["brand_new"].baseline_missing and got["brand_new"].alert
    assert not got["solo"].baseline_missing
    assert got["solo"].alert  # NULL sigma coalesces to fail-loud
    assert not got["view"].baseline_missing
    assert got["view"].alert is False  # in-band type stays quiet


def test_producer_wire_log_roundtrip_stream_matches_batch(
    spark, stream_dirs, tmp_path
):
    """K4 producer sink, streaming path: curated profile stream →
    producer_wire_records (key=id bytes, value=JSON bytes) → parquet
    wire log with checkpointed offsets → reingest_wire_log byte-for-
    byte verify. Every curated row must survive the roundtrip — a
    serialization drift between producer and consumer drops rows."""
    _feed(stream_dirs["src"], 120)
    source = pipeline.read_envelope_file_stream(spark, stream_dirs["src"])
    curated = pipeline.curated_stream(source)
    records = pipeline.producer_wire_records(curated)
    log_dir = str(tmp_path / "wire_log")
    q = pipeline.write_wire_log_stream(
        records, log_dir, str(tmp_path / "wire_ckpt")
    )
    pipeline.drain(q, "wire log")

    from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.operators import (
        etl,
    )

    batch = etl.curate_profiles(
        etl.parse_envelopes(spark.read.text(stream_dirs["src"]))
    )
    back = pipeline.reingest_wire_log(spark, log_dir, batch.schema)
    assert back.count() == batch.count() > 0
    assert back.select("id").subtract(batch.select("id")).count() == 0
    # wire records carry the topic + binary key contract
    raw = spark.read.parquet(log_dir)
    row = raw.limit(1).collect()[0]
    assert row.topic == pipeline.PRODUCER_TOPIC
    assert isinstance(row.key, (bytes, bytearray))
    assert isinstance(row.value, (bytes, bytearray))
