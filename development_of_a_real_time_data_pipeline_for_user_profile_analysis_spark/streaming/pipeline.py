"""Structured Streaming pipeline — the reference's streaming core,
re-architected.

The reference runs THREE independent ``writeStream.start()`` calls on
one lineage (Real_Time_Data.py:139-159): each re-reads Kafka and
re-executes the whole transform chain, and only the Cassandra query
has a checkpoint — the Mongo and console sinks silently duplicate on
restart. Here the design is ONE checkpointed query whose
``foreachBatch`` fans out to every sink: one source read, one
checkpoint, consistent batch ids across sinks, and idempotent
(replace-by-batch) parquet sinks so restart replays are harmless. The
fan-out is one Spark write per micro-batch, partitioned by sink and
moved into place, so every sink of a pipeline with a dead-letter sink
shares one union schema: the profile columns plus ``_corrupt_record``
(``run_pipeline`` has the contract).

The same batch transform functions (operators/etl.py) run inside the
stream — streaming/batch parity is by construction, not by parallel
implementations.

Scale notes: the ETL chain is stateless/narrow → scales with source
partitions. The stateful pieces (dedup, windowed aggs) key their
state by id / (window, key); watermarks bound state size so a
1000-executor job doesn't accumulate unbounded state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.etl import curate_profiles, parse_envelopes

DEFAULT_GAP = "10 minutes"


def _rp(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet`` with the schema pinned from the local
    footer when safely possible — identical result, no
    schema-inference job (sources.readers.read_parquet_pinned)."""
    from ..sources.readers import read_parquet_pinned

    return read_parquet_pinned(spark, *paths)


DRAIN_TIMEOUT_S = 300


def start_gate(stream: DataFrame, gate, checkpoint_dir: str):
    """Start `gate(batch_df, batch_id)` as the foreachBatch sink of
    `stream`: append mode, one checkpoint, and the availableNow
    trigger — drain what the source holds now, then stop. Every
    gate's writes are keyed by batch id, so at-least-once replay from
    the checkpoint is harmless."""
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(gate)
        .trigger(availableNow=True)
        .start()
    )


def nonempty_batch(gate):
    """Frame the foreachBatch body `gate(batch_df, batch_id)` for
    gates that read their batch more than once: the batch is persisted,
    counted, handed to `gate` only when it holds rows, and unpersisted
    afterwards, also when `gate` raises. Rows in and batch durations
    per trigger are in the query's own `recentProgress`."""

    def framed(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            if batch_df.count():
                gate(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return framed


def drain(q, what: str) -> None:
    """Wait for the availableNow query `q` to finish. On timeout
    awaitTermination returns False instead of raising, and a sink
    read then would be silently partial — so stop the query and raise
    TimeoutError naming the stream `what` and the query's error, if
    any. A query that failed raises its StreamingQueryException."""
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        err = q.exception()
        raise TimeoutError(
            f"{what} stream did not drain within {DRAIN_TIMEOUT_S} s"
            + (f": {err}" if err else "")
        )


def read_envelope_file_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based envelope source (JSON lines, one envelope per line).
    Same wire format as the Kafka topic; used for tests/replay.

    Third source option: `sources.userfeed.read_envelope_stream` — the
    reference's HTTP poller as a custom Python DataSource (exactly-once
    offsets, no sidecar process); `.select("value")` makes it a drop-in
    for either reader here."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def read_envelope_kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str = "user_data_topic",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka envelope source — mirror of reference
    Real_Time_Data.py:37-42. Requires the spark-sql-kafka connector
    on the classpath (not bundled in this runtime); the returned plan
    is identical in shape to the file source after the value cast."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
        .selectExpr("CAST(value AS STRING) AS value")
    )


def write_kafka_sink(
    df: DataFrame,
    brokers: str,
    topic: str,
    checkpoint_dir: str,
    value_col: str = "value",
):
    """Kafka producer sink (reference producer.py:40-42 role, but as a
    streaming sink with checkpointed offsets instead of a hand-rolled
    poll/flush loop). Requires the spark-sql-kafka connector on the
    classpath — not bundled in this runtime."""
    from pyspark.sql import functions as F

    return (
        df.select(F.col(value_col).cast("string").alias("value"))
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


PRODUCER_TOPIC = "user_profiles_curated"


def producer_wire_records(
    curated: DataFrame, topic: str = PRODUCER_TOPIC
) -> DataFrame:
    """K4 producer-side serialization (reference producer.py:40-42
    role): curated rows → the exact record shape the spark-sql-kafka
    producer sink ships — ``key`` = profile id bytes (keying by id
    gives per-user partition affinity and log-compaction upserts,
    unlike the reference's unkeyed sends), ``value`` = canonical JSON
    bytes of the full row (Spark ``to_json``: struct field order,
    nulls omitted — deterministic, so the wire bytes are a contract,
    not an accident), plus the destination ``topic``.

    With the connector jar present the broker write is exactly
    ``records.writeStream.format("kafka")`` (write_kafka_sink above);
    offline, ``write_wire_log`` persists the same records to a
    parquet "wire log" whose re-ingest is oracle-checked byte-for-byte
    by the ``kafka_wire_roundtrip`` registry query."""
    return curated.select(
        F.col("id").cast("string").cast("binary").alias("key"),
        F.to_json(F.struct(*curated.columns)).cast("binary").alias("value"),
        F.lit(topic).alias("topic"),
    )


def write_wire_log_stream(
    records: DataFrame, path: str, checkpoint_dir: str
):
    """Streaming wire-log sink: the K4 producer path with the broker
    swapped for parquet — same (key, value, topic) records, same
    checkpointed offsets, so the only delta to a real deployment is
    ``.format("kafka")`` + broker options."""
    return (
        records.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def reingest_wire_log(spark: SparkSession, path: str, schema) -> DataFrame:
    """Consumer side of the curated topic: wire records → typed rows,
    VERIFIED byte-for-byte — a row survives only if re-serializing the
    parsed struct reproduces the exact wire value bytes and the wire
    key equals the parsed id. Any drift between producer
    serialization and consumer parse (field order, type coercion,
    null handling, timestamp format) drops rows and turns the
    roundtrip oracle red instead of passing silently."""
    back = _rp(spark, path)
    parsed = back.select(
        F.col("key").cast("string").alias("wire_key"),
        F.col("value").cast("string").alias("wire_value"),
        F.from_json(F.col("value").cast("string"), schema).alias("p"),
    )
    return parsed.filter(
        (F.to_json("p") == F.col("wire_value"))
        & (F.col("p.id") == F.col("wire_key"))
    ).select("p.*")


def curated_stream(source: DataFrame) -> DataFrame:
    """Envelope stream → curated profile stream (the reference's full
    transform chain, same functions as batch)."""
    return curate_profiles(parse_envelopes(source))


FANOUT_STAGING = "_fanout"
SINK_COL = "_sink"


def _move(jvm, conf, src: str, dst: str) -> None:
    """Replace the directory `dst` by `src` with Hadoop
    FileSystem.rename, so sinks on any Hadoop filesystem work. `dst` is
    deleted first: a replayed batch replaces itself."""
    fs = jvm.org.apache.hadoop.fs
    d = fs.Path(dst)
    dfs = d.getFileSystem(conf)
    dfs.delete(d, True)
    dfs.mkdirs(d.getParent())
    if not dfs.rename(fs.Path(src), d):
        raise OSError(f"fan-out could not move {src} to {dst}")


def run_pipeline(
    spark: SparkSession,
    source: DataFrame,
    sink_dirs: list[str],
    checkpoint_dir: str,
    dead_letter_dir: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Start THE streaming query: single checkpoint, foreachBatch
    fan-out to every sink directory (curated table, serving table,
    dead-letter, ... — the roles Cassandra/Mongo/console played in
    the reference). One source read total, versus the reference's N
    full re-reads, and one Spark write per micro-batch: each row is
    tagged with the sinks it goes to (a curated row with every
    profile sink, a dead-letter row with the dead-letter sink), the
    tagged batch is written once, partitioned by sink, to
    ``<checkpoint_dir>/_fanout``, and the driver moves each sink's
    partition to ``<sink>/batch_id=N``. The staging dir is gone after
    every batch; it and the sinks share one filesystem, since a move
    is a rename.

    Sink schema: with ``dead_letter_dir`` every sink, profile and
    dead-letter alike, gets the union schema — the nine profile
    columns plus ``_corrupt_record``. ``_corrupt_record`` is all-NULL
    in the profile sinks, and the profile columns are all-NULL in the
    dead-letter sink, so readers project the columns they need.
    Without it the profile sinks get the nine profile columns. A sink
    that gets no row of a batch (no bad rows, or only bad ones) still
    gets a schema-only file under its ``batch_id=N``, at the price of
    one extra write on that batch only.

    foreachBatch is at-least-once, so each batch is idempotent per
    sink: the batch id is the directory and the move deletes it
    first — a replayed batch replaces itself instead of duplicating
    (the guarantee the reference only got implicitly from Cassandra's
    PK upsert), also after a crash between two moves.

    Every batch records the observed metrics ``fanout`` (``rows_in``,
    ``curated``, ``dead_letter``: rows reaching the fan-out, of them
    those written to every profile sink and those dead-lettered) in
    ``query.recentProgress[i]["observedMetrics"]``, at no extra job.
    """
    from ..operators.etl import CORRUPT_COL

    if dead_letter_dir is None:
        stream, bad = curated_stream(source), F.lit(False)
    else:
        # audited parse keeps the raw payload of unparseable rows so
        # the dead-letter sink gets them (SURVEY §1.2: the reference
        # silently dropped corrupt records)
        from ..operators.etl import parse_envelopes_audited

        audited = parse_envelopes_audited(source)
        good = curate_profiles(audited.filter(F.col("user").isNotNull()))
        stream = good.withColumn(CORRUPT_COL, F.lit(None).cast("string")).unionByName(
            audited.filter(F.col(CORRUPT_COL).isNotNull()).selectExpr(
                "CAST(NULL AS STRING) AS id",
                "CAST(NULL AS STRING) AS username",
                "CAST(NULL AS STRING) AS gender",
                "CAST(NULL AS STRING) AS title",
                "CAST(NULL AS INT) AS age",
                "CAST(NULL AS STRING) AS email",
                "CAST(NULL AS STRING) AS inscription",
                "CAST(NULL AS STRING) AS full_name",
                "CAST(NULL AS STRING) AS full_address",
                CORRUPT_COL,
            )
        )
        bad = F.col(CORRUPT_COL).isNotNull()
    stream = stream.observe(
        "fanout",
        F.count(F.lit(1)).alias("rows_in"),
        F.count_if(~bad).alias("curated"),
        F.count_if(bad).alias("dead_letter"),
    )

    targets = list(sink_dirs) + ([] if dead_letter_dir is None else [dead_letter_dir])
    every_profile_sink = F.array(*[F.lit(i) for i in range(len(sink_dirs))])
    sinks_of_row = F.when(~bad, every_profile_sink).otherwise(
        F.array(F.lit(len(sink_dirs)))
    )
    staging = os.path.join(checkpoint_dir, FANOUT_STAGING)
    jvm = spark.sparkContext._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    staging_fs = Path(staging).getFileSystem(conf)

    def fan_out(batch_df: DataFrame, batch_id: int) -> None:
        session = batch_df.sparkSession  # the stream's own session
        # one open file per sink, so the partitioned write needs no sort
        session.conf.set(
            "spark.sql.maxConcurrentOutputFileWriters", str(len(targets))
        )
        batch_df.withColumn(SINK_COL, F.explode(sinks_of_row)).write.mode(
            "overwrite"
        ).partitionBy(SINK_COL).parquet(staging)
        for i, target in enumerate(targets):
            part = os.path.join(staging, f"{SINK_COL}={i}")
            if not staging_fs.exists(Path(part)):
                # limit(0) plans as an empty local relation: no source re-read
                batch_df.limit(0).write.parquet(part)
            # each batch dir keeps the commit marker of a plain write
            staging_fs.create(Path(part, "_SUCCESS"), True).close()
            _move(jvm, conf, part, os.path.join(target, f"batch_id={batch_id}"))
        staging_fs.delete(Path(staging), True)

    writer = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(fan_out)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def run_ivfpq_add_stream(
    spark: SparkSession,
    vector_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
):
    """Streaming maintenance of the IVF-PQ index artifact: each
    micro-batch of (vec_id, embedding) rows encodes
    against the artifact's FROZEN quantizers (read once at start —
    broadcast-sized, never retrained) and publishes its codes as an
    L0 segment `codes_adds/batch_id=N`, cell-partitioned like the
    base. Probe-serving between batches reads base ∪ segments
    (similarity.read_ivfpq_index_with_adds); a compaction job folds
    segments into the base off the hot path.

    Idempotent under foreachBatch's at-least-once: the batch id is
    the segment directory and the write is overwrite — a replayed
    batch replaces itself (run_pipeline's device). Per-batch cost is
    one narrow scan of the batch: O(|batch|), independent of both
    corpus size and the number of standing segments."""
    from ..operators import similarity

    index = similarity.read_ivfpq_index(spark, index_path)

    @nonempty_batch
    def add_batch(batch_df: DataFrame, batch_id: int) -> None:
        similarity.ivfpq_add_batch(index, batch_df).write.mode(
            "overwrite"
        ).partitionBy("cell").parquet(
            os.path.join(index_path, "codes_adds", f"batch_id={batch_id}")
        )

    return start_gate(vector_stream, add_batch, checkpoint_dir)


def run_ivfpq_erase_stream(
    spark: SparkSession,
    id_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
):
    """Streaming right-to-be-forgotten against the maintained IVF-PQ
    artifact — the erasure twin of run_ivfpq_add_stream: each
    micro-batch of subject vec_ids publishes a TOMBSTONE segment
    (`tombstones/seg_id=s{batch_id}` — request-sized, cell-tagged);
    serving through similarity.read_ivfpq_index_serving excludes the
    subjects immediately, and the next compaction folds their codes
    out of the artifact permanently. Erasure requests in a real
    deployment ARE a stream (deletion API events), so the maintained
    lifecycle is add-stream + erase-stream + compaction.

    Idempotent under foreachBatch's at-least-once: the segment key is
    derived from the batch id and the write is overwrite — a replayed
    batch replaces its own segment (never double-counts). Per-batch
    cost: one broadcast semi-join of the ids against the codes plus a
    tiny parquet write — O(|batch|)-driven, flat in corpus size."""
    from ..operators import similarity

    @nonempty_batch
    def erase_batch(batch_df: DataFrame, batch_id: int) -> None:
        similarity.ivfpq_erase(
            spark, index_path, batch_df.select("vec_id"), seg_id=f"s{batch_id}"
        )

    return start_gate(id_stream, erase_batch, checkpoint_dir)


def deduped_stream(source: DataFrame, watermark_delay: str = "1 hour") -> DataFrame:
    """Streaming dedup on profile id — fixes the reference's silent
    duplicate problem (Mongo append had no PK). Event time comes from
    the `inscription` timestamp. NOTE: with dropDuplicates on [id]
    alone the watermark only gates late rows — it does NOT evict dedup
    state, which grows with distinct ids forever. For bounded state on
    an unbounded stream use deduped_stream_within_watermark below."""
    curated = curated_stream(source).withColumn(
        "event_time", F.to_timestamp(F.col("inscription"))
    )
    return curated.withWatermark("event_time", watermark_delay).dropDuplicates(["id"])


def deduped_stream_within_watermark(
    source: DataFrame, watermark_delay: str = "1 hour"
) -> DataFrame:
    """Like deduped_stream, but state per key is EVICTED once the
    watermark passes it (dropDuplicatesWithinWatermark, Spark 3.5+).

    plain dropDuplicates keeps every seen id forever — unbounded state
    on an unbounded stream. Within-watermark dedup bounds state to the
    watermark horizon, which is the right call at 100 TB/day ingest
    where duplicates only ever arrive close together (retries,
    at-least-once sources). Duplicates farther apart than the delay
    are deliberately NOT collapsed — that is the documented trade.
    """
    curated = curated_stream(source).withColumn(
        "event_time", F.to_timestamp(F.col("inscription"))
    )
    return curated.withWatermark(
        "event_time", watermark_delay
    ).dropDuplicatesWithinWatermark(["id"])


def streaming_gender_counts(source: DataFrame) -> DataFrame:
    """Update-mode live aggregate — the dashboard's gender distribution
    computed incrementally instead of re-scanning the store each poll."""
    return curated_stream(source).groupBy("gender").count()


def registrations_per_window(
    source: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark_delay: str = "1 day",
) -> DataFrame:
    """Event-time windowed registrations (tumbling, or sliding when
    `slide` is given) with watermark-bounded state and late-data
    tolerance — capability the reference lacks entirely (its
    batchWatermarkMs is 0 in every checkpoint offsets file)."""
    curated = curated_stream(source).withColumn(
        "event_time", F.to_timestamp(F.col("inscription"))
    )
    win = (
        F.window("event_time", window, slide) if slide else F.window("event_time", window)
    )
    return (
        curated.withWatermark("event_time", watermark_delay)
        .groupBy(win.alias("w"))
        .agg(F.count(F.lit(1)).alias("registrations"))
        .select(F.col("w.start").alias("window_start"), "registrations")
    )


def enriched_stream(source: DataFrame, dim: DataFrame, on: str = "gender") -> DataFrame:
    """Stream-static join: enrich the curated stream with a static
    dimension (broadcast per micro-batch). The static side is re-read
    each batch, so a slowly-changing dim picks up updates without
    restarting the query — the streaming replacement for the
    reference's post-hoc dashboard lookups."""
    from pyspark.sql.functions import broadcast

    return curated_stream(source).join(broadcast(dim), on, "left")


def clicks_errors_stream_join(
    events: DataFrame, window_minutes: int = 5, watermark_delay: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join with event-time bounds: pair each
    error with same-user clicks in the preceding window. Watermarks on
    BOTH sides + the time-bound condition let Spark evict join state —
    unbounded state otherwise (the batch twin is
    analytics.clicks_before_errors)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", watermark_delay)
    )
    errors = (
        events.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", watermark_delay)
    )
    return errors.join(
        clicks,
        F.expr(
            f"""c_user = e_user
            AND click_ts >= err_ts - INTERVAL {window_minutes} MINUTES
            AND click_ts < err_ts"""
        ),
    )


def clicks_errors_stream_outer_join(
    events: DataFrame, window_minutes: int = 5, watermark_delay: str = "10 minutes"
) -> DataFrame:
    """Stream-stream LEFT OUTER join: every error row is emitted —
    paired with preceding same-user clicks when they exist, with NULL
    click columns once the watermark proves no match can still
    arrive. The outer-emission side of the inner join above: Spark
    holds an unmatched left row in state until the watermark passes
    the join bound, then emits it null-extended — so 'errors with no
    recent click' becomes a streaming query instead of a batch
    anti-join."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", watermark_delay)
    )
    errors = (
        events.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", watermark_delay)
    )
    return errors.join(
        clicks,
        F.expr(
            f"""c_user = e_user
            AND click_ts >= err_ts - INTERVAL {window_minutes} MINUTES
            AND click_ts < err_ts"""
        ),
        "leftOuter",
    )


def sessionized_stream(
    events: DataFrame, gap: str = DEFAULT_GAP, watermark_delay: str = "1 hour"
) -> DataFrame:
    """Streaming session windows (the stateful twin of the batch
    gaps-and-islands sessionizer in operators/analytics.py)."""
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def drift_monitor_stream(
    events: DataFrame, baseline_events: DataFrame
) -> DataFrame:
    """Streaming distribution-drift monitor: per (day, event_type)
    tumbling-window mean of `value` flagged against a STATIC training
    baseline (per-type mean/σ from the batch table) — the streaming
    twin of the batch CUSUM/PSI monitors, catching a feed whose value
    distribution shifts mid-stream.

    The baseline joins the stream BEFORE aggregation (stream-static
    broadcast join — joining after a streaming aggregation is not
    allowed in complete mode), then rides through the window
    aggregate as max() of a per-type constant. All compared values
    are 2-dp quantized so the alert flag is engine-portable.

    The join is a LEFT join: an event_type never seen in training is
    itself the strongest drift signal, so it must not be dropped —
    it surfaces with ``baseline_missing = true`` and ``alert = true``.
    A baseline type with a single training row has NULL stddev_samp;
    its comparison is indeterminate, so the alert coalesces to true
    (fail-loud) rather than riding through as NULL.
    """
    # exact integer-cents moments (value is exact 2-dp): both the
    # mean and the sample stddev derive from order-exact long sums
    # (n, Σc, Σc²) — floor(avg/stddev of doubles) sits on .5 knife
    # edges where a partial-merge-order ulp flips the cent (seen in
    # pq_codebook_report under load). Σc² and
    # (Σc)²/n leave long range only AFTER the exact sums, as doubles
    # of exact integers — deterministic arithmetic.
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    base = (
        baseline_events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("bn"),
            F.sum(cents).alias("s1"),
            F.sum(cents * cents).alias("s2"),
        )
        .select(
            "event_type",
            (
                F.floor(F.col("s1") * 1.0 / F.col("bn") + 0.5).cast(
                    "long"
                )
                / 100.0
            ).alias("mu"),
            F.when(
                F.col("bn") >= 2,
                F.floor(
                    F.sqrt(
                        (
                            F.col("s2").cast("double")
                            - F.col("s1").cast("double")
                            * F.col("s1").cast("double")
                            / F.col("bn")
                        )
                        / (F.col("bn") - 1)
                    )
                    + 0.5
                ).cast("long")
                / 100.0,
            ).alias("sigma"),
        )
    )
    joined = events.join(F.broadcast(base), "event_type", "left")
    win = joined.groupBy(
        F.window("ts", "1 day").alias("w"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.floor(F.sum(cents) * 1.0 / F.count(F.lit(1)) + 0.5).cast(
                "long"
            )
            / 100.0
        ).alias("mean_value"),
        F.max("mu").alias("mu"),
        F.max("sigma").alias("sigma"),
    )
    return win.select(
        F.col("w.start").alias("day_start"),
        "event_type",
        "n_events",
        "mean_value",
        F.col("mu").isNull().alias("baseline_missing"),
        F.coalesce(
            F.abs(F.col("mean_value") - F.col("mu")) > 2 * F.col("sigma"),
            F.lit(True),
        ).alias("alert"),
    )


def run_quality_gate_stream(
    spark: SparkSession,
    doc_stream: DataFrame,
    weights: dict,
    threshold: int,
    kept_dir: str,
    checkpoint_dir: str,
):
    """Streaming quality gate under the TRAINED model — the serving
    half of model-based filtering (train in batch:
    text.quality_classifier_weights; gate the ingest stream here):
    each micro-batch featurizes (one in-batch token shuffle), scores
    against the frozen literal weights, and lands only
    score >= `threshold` docs (the trained top-QC_KEEP_PCT% train-
    split cut — text.quality_model_artifact ships both) — idempotent
    per batch (overwrite by batch id, run_pipeline's device). The
    model artifact is 9 floats + 1 int: no state store, no retrain
    on the hot path — at 100 TB/day of ingest this is a stateless
    map over each batch, and the batch feeds one write, so it is
    neither persisted nor counted."""
    from ..operators.text import quality_model_scored

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        scored = quality_model_scored(batch_df, weights)
        # threshold None = degenerate training corpus (k == 0):
        # the gate keeps nothing rather than crashing the stream
        kept = (
            scored.filter(F.lit(False))
            if threshold is None
            else scored.filter(F.col("milli_logit") >= F.lit(int(threshold)))
        )
        kept.write.mode("overwrite").parquet(
            os.path.join(kept_dir, f"batch_id={batch_id}")
        )

    return start_gate(doc_stream, gate, checkpoint_dir)


# ------------------------------------------------------------------
# Streaming chunk-substring dedup against a maintained digest index
# ------------------------------------------------------------------


CHUNK_TOKENIZER_FILE = "_tokenizer.json"


def chunk_index_tokenizer(index_path: str) -> str:
    """The chunk-digest artifact's recorded chunking tokenizer — an
    ARTIFACT PARAMETER (the band-index discipline,
    dedup.band_index_tokenizer): every batch add, probe, and erase
    against the index must chunk with the mode the base was built
    with, or reconstruction silently sees zero matches. Artifacts
    written before the meta existed read as whitespace (their actual
    mode)."""
    import json

    from ..operators.artifact_lifecycle import require_completed_build

    require_completed_build(index_path, "chunk_index_tokenizer")
    meta = os.path.join(index_path, CHUNK_TOKENIZER_FILE)
    if os.path.isfile(meta):
        with open(meta) as fh:
            return json.load(fh)["tokenizer"]
    return "whitespace"


def build_chunk_digest_index(
    corpus: DataFrame, index_path: str, tokenizer: str = "whitespace"
) -> None:
    """Materialize the base chunk-digest index — REFCOUNTED
    (digest, refs) so erasure on the content-addressed artifact is
    correct (see dedup.chunk_digest_index) — the artifact
    run_chunk_dedup_stream probes and appends to. The chunking
    `tokenizer` is recorded in `{index_path}/_tokenizer.json`:
    `lang_aware` chunks the no-whitespace language
    partition on char rolling-hash boundaries, the honest mode for
    CJK corpora; every add/probe/erase path reads the meta. The meta
    lives at the artifact root, outside the base/adds/erases
    lifecycle, so compaction and the crash fence never touch it.
    Refuses to rewrite over live adds/erases/rerefs segments."""
    import json

    from ..operators import dedup
    from ..operators.artifact_lifecycle import refuse_stale_segments
    from ..operators.text import CDC_TOKENIZERS

    if tokenizer not in CDC_TOKENIZERS:
        raise ValueError(f"unknown cdc tokenizer: {tokenizer!r}")
    if tokenizer == "lang_aware" and "lang" not in corpus.columns:
        raise ValueError(
            "lang_aware chunk index needs a lang column on the corpus"
        )
    refuse_stale_segments(
        index_path,
        ("adds", "erases", "rerefs", "ledger"),
        "build_chunk_digest_index",
    )
    from ..operators.artifact_lifecycle import (
        begin_param_build,
        finish_param_build,
    )

    # build-intent fence: a crash between the base write and
    # the meta publish must read LOUD, not as the meta-less
    # whitespace fallback (or, on rebuild, the stale old meta).
    begin_param_build(
        index_path, "build_chunk_digest_index", {"tokenizer": tokenizer}
    )
    dedup.chunk_digest_index(corpus, tokenizer=tokenizer).write.mode(
        "overwrite"
    ).parquet(os.path.join(index_path, "base"))
    tmp = os.path.join(index_path, f".{CHUNK_TOKENIZER_FILE}.tmp")
    with open(tmp, "w") as fh:
        json.dump({"tokenizer": tokenizer}, fh)
    os.replace(tmp, os.path.join(index_path, CHUNK_TOKENIZER_FILE))
    finish_param_build(index_path)


def read_chunk_digest_index(
    spark: SparkSession, index_path: str, exclude_batch_id: int | None = None
) -> DataFrame:
    """base ∪ per-batch add segments as one digest relation.
    `exclude_batch_id` drops that batch's own segment — required for
    replay-safety: a foreachBatch retry must not classify its own
    previously-published digests as corpus duplicates.

    The adds discovery below is driver-local os.listdir — correct
    only for local filesystem paths. A remote URI (hdfs://, s3a://)
    would silently skip every adds segment and produce WRONG ledgers,
    so refuse it loudly; the cluster deployment swaps this listing
    for the Hadoop FS API."""
    if "://" in index_path:  # incl. file:// — os.listdir can't see it
        raise ValueError(
            "read_chunk_digest_index discovers adds segments via "
            f"local os.listdir; got URI index_path {index_path!r} "
            "— adds would be silently skipped. Use a plain local path."
        )
    from ..operators.artifact_lifecycle import recover_torn_compaction

    recover_torn_compaction(index_path, "base")

    def _refs(df: DataFrame) -> DataFrame:
        # legacy v1 segments carried bare digests — count as 1 ref
        if "refs" in df.columns:
            return df.select("digest", "refs")
        return df.select("digest", F.lit(1).cast("long").alias("refs"))

    def _segments(sub: str, key: str) -> DataFrame | None:
        d = os.path.join(index_path, sub)
        if os.path.isdir(d) and any(
            n.startswith(f"{key}=") for n in os.listdir(d)
        ):
            df = spark.read.option("basePath", d).parquet(d)
            if key == "batch_id" and exclude_batch_id is not None:
                df = df.filter(F.col("batch_id") != exclude_batch_id)
            return df
        return None

    base = _refs(_rp(spark, os.path.join(index_path, "base")))
    adds = _segments("adds", "batch_id")
    # presence = base ∪ adds (first introductions only — rerefs never
    # grant presence, so a replayed batch cannot see its own content
    # reflected back through a later batch's re-references)
    present = base.select("digest")
    if adds is not None:
        present = present.unionByName(adds.select("digest"))
    erases = _segments("erases", "seg_id")
    if erases is None:
        # no pending erasures: membership is presence — the hot
        # streaming path pays zero refcount work
        return present
    # pending erasures: a digest stays alive while Σrefs > 0 across
    # base + adds + rerefs − erases (one digest-keyed aggregation,
    # partial-aggregable; erase sets are request-sized)
    rel = base
    if adds is not None:
        rel = rel.unionByName(_refs(adds))
    rerefs = _segments("rerefs", "batch_id")
    if rerefs is not None:
        rel = rel.unionByName(_refs(rerefs))
    # per-subject attribution rows, deduped on (doc_id, digest) so a
    # replayed/duplicated pending request decrements exactly once
    rel = rel.unionByName(
        erases.select("doc_id", "digest", "refs")
        .distinct()
        .select("digest", (-F.col("refs")).alias("refs"))
    )
    alive = (
        rel.groupBy("digest")
        .agg(F.sum("refs").alias("r"))
        .filter(F.col("r") > 0)
        .select("digest")
    )
    return present.join(alive, "digest", "left_semi")


def run_chunk_dedup_stream(
    spark: SparkSession,
    doc_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
):
    """Streaming chunk-substring dedup: each micro-batch of documents
    is reconstructed against the maintained chunk-digest index —
    per-doc ledger rows (words kept / corpus-dup / intra-batch-dup)
    land in `ledger/batch_id=N`, and the digests the batch introduces
    append to the index as `adds/batch_id=N`. Sequential batches
    therefore dedupe against corpus + all earlier batches, exactly
    like running the batch operator incrementally — the streaming
    sibling of run_ivfpq_add_stream's maintained-artifact discipline.

    Idempotent under foreachBatch's at-least-once: both writes key on
    the batch id and overwrite, and the index read EXCLUDES the
    current batch's own segment, so a replayed batch reproduces its
    original ledger rather than self-colliding. Per-batch cost: chunk
    the batch (map-side) + one digest-keyed index probe — O(|batch|)
    plus the index scan, independent of ledger history."""
    from ..operators import dedup
    from ..operators.text import cdc_chunk_table

    @nonempty_batch
    def gate(batch_df: DataFrame, batch_id: int) -> None:
        idx = read_chunk_digest_index(
            spark, index_path, exclude_batch_id=batch_id
        )
        # chunk the batch and probe the index ONCE: the ledger and both
        # segments derive from the same persisted marked relation. Chunk
        # with the INDEX'S recorded tokenizer — a lang-aware index must
        # never take whitespace-chunked segments (and vice versa)
        marked = dedup.chunk_dedup_marked(
            idx,
            cdc_chunk_table(
                batch_df, tokenizer=chunk_index_tokenizer(index_path)
            ),
        ).persist()
        try:
            dedup.ledger_from_marked(marked).write.mode("overwrite").parquet(
                os.path.join(index_path, "ledger", f"batch_id={batch_id}")
            )
            # presence segment: the batch's NEW digests (replay-safe —
            # only first introductions), carrying refcounts
            dedup.new_digest_refs_from_marked(marked).write.mode(
                "overwrite"
            ).parquet(os.path.join(index_path, "adds", f"batch_id={batch_id}"))
            # refcount-only segment: re-references of existing digests,
            # so a later erasure of the original contributor cannot GC
            # content this batch still uses
            dedup.rereference_refs_from_marked(marked).write.mode(
                "overwrite"
            ).parquet(
                os.path.join(index_path, "rerefs", f"batch_id={batch_id}")
            )
        finally:
            marked.unpersist()
        # re-consent: these subjects' content just re-entered the index
        # — lift any post-fold erasure suppression so they can be erased
        # again (idempotent on replay)
        release_erased_subjects(spark, index_path, batch_df.select("doc_id"))

    return start_gate(doc_stream, gate, checkpoint_dir)


def chunk_index_erase(
    spark: SparkSession,
    index_path: str,
    erased_docs: DataFrame,
    seg_id: int | str | None = None,
) -> dict:
    """Right-to-be-forgotten on the maintained chunk-digest index —
    the third maintained artifact the erasure story reaches (after
    the IVF-PQ codes and the LSH band index), and the one where naive
    deletion would be WRONG: digests are content-addressed, shared by
    every document containing the chunk, so a subject's digests may
    only die when no surviving reference remains. The erase publishes
    a negative refcount-delta segment `erases/seg_id=N` (the erased
    docs' own chunk occurrence counts — request-sized: only the
    erased documents are chunked); read_chunk_digest_index keeps a
    digest alive while Σrefs > 0, and chunk_index_compact folds the
    ledgers into a clean base, physically dropping digests whose
    count reached zero. `seg_id`: explicit batch-derived key for
    foreachBatch idempotence; None → a fresh uuid (NOT max+1 over a
    directory listing — two concurrent un-keyed erases would race
    the listing, allocate the same segment, and one overwrite the
    other — the manifest_erase discipline applied here).

    Repeat-request safety: refcounts alone cannot tell a NEW erasure
    from a REPEAT of one already folded (the fold removed the
    subject's contribution from the base — decrementing again would
    drive shared digests negative and GC content surviving sharers
    still own). So segments carry per-subject attribution
    (doc_id, digest, refs), pending segments dedupe rows on
    (doc_id, digest) at aggregation time, and compaction records
    folded subjects in the `erased_subjects/` suppression ledger —
    a repeated request for a suppressed or already-pending subject
    is dropped HERE, making erasure idempotent end-to-end."""
    from ..operators.artifact_lifecycle import recover_torn_compaction
    from ..operators.dedup import require_local_index_path
    from ..operators.text import cdc_chunk_table

    import uuid

    require_local_index_path("chunk_index_erase", index_path)
    recover_torn_compaction(index_path, "base")
    er_dir = os.path.join(index_path, "erases")
    if seg_id is None:
        seg_id = uuid.uuid4().hex
    n_requested = int(erased_docs.select("doc_id").distinct().count())
    # the erased docs' own chunks, under the INDEX'S recorded
    # tokenizer — a differently-chunked delta would decrement nothing
    delta = (
        cdc_chunk_table(
            erased_docs, tokenizer=chunk_index_tokenizer(index_path)
        )
        .groupBy("doc_id", "digest")
        .agg(F.count(F.lit(1)).cast("long").alias("refs"))
    )
    known = _known_erased_subjects(spark, index_path, "erases", exclude=seg_id)
    if known is not None:
        delta = delta.join(F.broadcast(known), "doc_id", "left_anti")
    delta.write.mode("overwrite").parquet(
        os.path.join(er_dir, f"seg_id={seg_id}")
    )
    written = _rp(spark, 
        os.path.join(er_dir, f"seg_id={seg_id}")
    )
    # one pass for all three segment stats: the audit queries chain
    # many request-sized lifecycle calls, so per-call job count is
    # the wall
    st = written.agg(
        F.countDistinct("doc_id").alias("n_subjects"),
        F.countDistinct("digest").alias("n_digests"),
        F.sum("refs").alias("n_refs"),
    ).collect()[0]
    n_subjects = int(st.n_subjects)
    return {
        "seg_id": seg_id,
        "n_subjects": n_subjects,
        # surfaced so callers can DETECT a dropped repeat request —
        # nonzero means some named subjects were
        # already pending or suppressed-after-fold and this request
        # was a no-op for them
        "n_suppressed": n_requested - n_subjects,
        "n_digests": int(st.n_digests),
        "n_refs": int(st.n_refs or 0),
    }


def _committed_segment_dirs(
    d: str, exclude=None
) -> list[str]:
    """seg_id=* child dirs that carry Spark's `_SUCCESS` commit
    marker. Per-child parquet reads MUST gate on it: a CONCURRENT
    un-keyed erase's segment dir exists mid-write with only a
    `_temporary` subtree inside, and reading it throws
    AnalysisException (parent-level reads are safe — partition
    discovery hides underscore dirs — but these readers point
    INSIDE the child). Skipping an uncommitted segment is correct
    by the same argument that makes concurrent erases safe at all:
    a mid-flight request's subjects are not yet "known", and
    overlap dedupes at aggregation time on (doc_id, digest)."""
    if not os.path.isdir(d):
        return []
    return [
        os.path.join(d, e)
        for e in sorted(os.listdir(d))
        if e.startswith("seg_id=")
        and e != f"seg_id={exclude}"
        and os.path.isfile(os.path.join(d, e, "_SUCCESS"))
    ]


def _known_erased_subjects(
    spark: SparkSession, path: str, pending: str, exclude=None
) -> DataFrame | None:
    """doc_ids already covered by a pending erase segment under
    `path/pending` (the chunk index's `erases`, the manifest's
    `erase_subjects` sidecars) or by the folded-subject suppression
    ledger `erased_subjects/` — requests naming them again are
    no-ops."""
    from ..operators.artifact_lifecycle import recover_torn_swap
    from ..operators.dedup import require_local_index_path

    require_local_index_path("_known_erased_subjects", path)
    recover_torn_swap(path, "erased_subjects")
    parts = [
        _rp(spark, seg).select("doc_id")
        for seg in _committed_segment_dirs(
            os.path.join(path, pending), exclude=exclude
        )
    ]
    led = os.path.join(path, "erased_subjects")
    if os.path.isdir(led) and os.listdir(led):
        parts.append(_rp(spark, led).select("doc_id"))
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def chunk_index_compact(spark: SparkSession, index_path: str) -> dict:
    """Fold the chunk-digest index's refcount ledgers: base ∪ add
    segments − erase segments → a clean refcounted base; digests
    whose count reached zero leave the artifact physically, and the
    segment areas empty. Probing results are unchanged by
    construction — the serving read already aggregated the same
    ledgers.

    CRASH-FENCED via the shared epoch-marker
    protocol (operators/artifact_lifecycle.py): segments are
    enumerated into a pending marker first, the fold reads ONLY the
    listed segments, the target epoch publishes atomically with the
    base (epoch sidecar stamped into the scratch before the
    rename-swap), and recovery — run by every reader, erase, and
    compactor — rolls a torn state forward or back. A crash after
    the rename-swap can therefore no longer double-count refs or
    double-apply erase deltas (which would drive shared digests
    negative and GC content surviving sharers still own).

    Suppression-ledger append happens BEFORE the publish and
    EXCLUDES any erase-segment subject whose doc_id re-entered via a
    stream batch whose adds/rerefs segments are in this same fold
    (the interleaving gap): such a subject's
    re-added refs demonstrably survive the fold, so suppressing it
    would make the live re-added content permanently unerasable. The
    re-entry evidence is the stream's own `ledger/batch_id=N` rows
    for the folded batch ids — doc-level bookkeeping the gate
    already writes. On roll-back the extra ledger rows are harmless:
    the pending erase segments still suppress repeats, and
    release_erased_subjects lifts them on any later re-entry."""
    import uuid

    from ..operators import artifact_lifecycle as alc
    from ..operators.dedup import (
        require_local_index_path,
        require_nonempty_parquet_scratch,
    )

    require_local_index_path("chunk_index_compact", index_path)
    alc.recover_torn_compaction(index_path, "base")
    specs = [
        ("adds", "batch_id"),
        ("rerefs", "batch_id"),
        ("erases", "seg_id"),
    ]
    segs = alc.list_segment_dirs(index_path, specs)
    if not segs:
        return {"n_add_segments": 0, "n_erase_segments": 0, "n_dead": 0}
    marker = alc.begin_compaction(index_path, "base", segs)
    ref_segs = [s for s in segs if s.startswith(("adds/", "rerefs/"))]
    er_segs = [s for s in segs if s.startswith("erases/")]

    def _refs(df: DataFrame) -> DataFrame:
        if "refs" in df.columns:
            return df.select("digest", "refs")
        return df.select("digest", F.lit(1).cast("long").alias("refs"))

    def _union_segs(seg_list, project):
        parts = [
            project(_rp(spark, os.path.join(index_path, s)))
            for s in seg_list
        ]
        out = parts[0]
        for pt in parts[1:]:
            out = out.unionByName(pt)
        return out

    rel = _refs(_rp(spark, os.path.join(index_path, "base")))
    if ref_segs:
        rel = rel.unionByName(_union_segs(ref_segs, _refs))
    if er_segs:
        rel = rel.unionByName(
            _union_segs(
                er_segs,
                lambda df: df.select("doc_id", "digest", "refs"),
            )
            .distinct()
            .select("digest", (-F.col("refs")).alias("refs"))
        )
    merged = (
        rel.groupBy("digest")
        .agg(F.sum("refs").cast("long").alias("refs"))
    )
    alive = merged.filter(F.col("refs") > 0)
    n_dead = int(merged.filter(F.col("refs") <= 0).count())
    scratch = os.path.join(index_path, f".base_compact_{uuid.uuid4().hex}")
    alive.write.parquet(scratch)
    require_nonempty_parquet_scratch(scratch, "chunk-digest index")
    if er_segs:
        er_subj = _union_segs(
            er_segs, lambda df: df.select("doc_id")
        ).distinct()
        folded_ids = {s.split("=", 1)[1] for s in ref_segs}
        readd_dirs = [
            os.path.join(index_path, "ledger", f"batch_id={b}")
            for b in sorted(folded_ids)
            if os.path.isdir(
                os.path.join(index_path, "ledger", f"batch_id={b}")
            )
        ]
        if readd_dirs:
            readded = (
                spark.read.parquet(*readd_dirs)
                .select("doc_id")
                .distinct()
            )
            er_subj = er_subj.join(
                F.broadcast(readded), "doc_id", "left_anti"
            )
        er_subj.write.mode("append").parquet(
            os.path.join(index_path, "erased_subjects")
        )
    alc.stamp_scratch_epoch(scratch, marker["to_epoch"])
    alc.publish_base(index_path, "base", scratch)
    alc.finish_compaction(index_path, marker)
    return {
        "n_add_segments": len(
            [s for s in ref_segs if s.startswith("adds/")]
        ),
        "n_erase_segments": len(er_segs),
        "n_dead": n_dead,
    }


def release_erased_subjects(
    spark: SparkSession, path: str, doc_ids: DataFrame
) -> dict:
    """RE-CONSENT on an artifact with a subject-suppression ledger (the
    chunk-digest index, the manifest): drop the given subjects from
    `erased_subjects/` so they become erasable AGAIN. Without this,
    the ledger is permanent — a subject whose content legitimately
    re-enters via an adds segment could never be re-erased, because
    the erase's anti-join would silently drop every later request,
    leaving the re-added content alive forever. Both artifacts' stream
    gates call this for each micro-batch's doc_ids: content
    re-entering IS the re-consent event, and the new adds segments
    carry exactly what a future erase of the same subject removes.

    A torn ledger swap is recovered first, so a crash between the swap's
    two renames cannot hide the ledger and skip the release. Idempotent
    (anti-join removal), replay-safe, and rename-swap published; a
    ledger emptied entirely is DELETED (missing dir == empty ledger)
    rather than written as a schema-less parquet dir. Cost: one
    subject-sized ledger rewrite, skipped when no ledger exists or no
    overlap."""
    import shutil
    import uuid

    from ..operators import artifact_lifecycle as alc
    from ..operators.dedup import require_local_index_path

    require_local_index_path("release_erased_subjects", path)
    alc.recover_torn_swap(path, "erased_subjects")
    led = os.path.join(path, "erased_subjects")
    if not (os.path.isdir(led) and os.listdir(led)):
        return {"n_released": 0}
    ledger = _rp(spark, led).select("doc_id").distinct()
    ids = doc_ids.select("doc_id").distinct()
    n_released = int(ledger.join(F.broadcast(ids), "doc_id").count())
    if not n_released:
        return {"n_released": 0}
    kept = ledger.join(F.broadcast(ids), "doc_id", "left_anti")
    if kept.isEmpty():
        shutil.rmtree(led, ignore_errors=True)
        return {"n_released": n_released}
    scratch = os.path.join(path, f".erased_subjects_{uuid.uuid4().hex}")
    kept.write.parquet(scratch)
    # fenced swap: a crash between the two renames must never leave
    # the ledger MISSING (== no suppression — repeats would
    # double-apply); recovery rolls to scratch or back to old
    alc.atomic_swap_dir(path, "erased_subjects", scratch)
    return {"n_released": n_released}


def run_near_dup_monitor_stream(
    spark: SparkSession,
    doc_stream: DataFrame,
    band_index_path: str,
    corpus: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    jaccard_threshold: float = 0.6,
):
    """Streaming near-dup LEAKAGE MONITOR: every micro-batch of
    incoming documents is probed against the MAINTAINED band index
    (read through the tombstone-aware serving read — erased subjects
    can never re-surface as partners) and the verified pairs land in
    a per-batch ledger `out_dir/pairs/batch_id=N`. This is eval-set
    protection as a service: candidate eval/benchmark documents
    arriving after the split are checked against the training corpus
    BEFORE they are admitted, instead of auditing leakage after the
    fact.

    Idempotent under foreachBatch's at-least-once (batch-keyed
    overwrite). Per-batch cost: band the batch + one broadcast probe
    join + Jaccard verify on candidates — O(|batch|)-driven; the
    corpus is touched only through the precomputed index and the
    shingle fetch of candidate partners."""
    from ..operators import dedup

    # the probed corpus is STATIC across the stream — shingle it once
    # (eager ckpt in the bounded FIFO) instead of 3× per micro-batch
    # inside every probe's verify (see incremental_near_dups_
    # indexed's corpus_sh contract: batch doc_ids are disjoint from
    # the corpus here — the monitor admits NEW ids by construction)
    while len(dedup._sh_ckpt_cache) >= dedup._SH_CKPT_KEEP:
        dedup._sh_ckpt_cache.pop(0).unpersist()
    corpus_sh = dedup._band_shingles(
        corpus, dedup.band_index_tokenizer(band_index_path)
    ).localCheckpoint(eager=True)
    dedup._sh_ckpt_cache.append(corpus_sh)

    @nonempty_batch
    def gate(batch_df: DataFrame, batch_id: int) -> None:
        dedup.incremental_near_dups_indexed(
            spark,
            band_index_path,
            corpus,
            batch_df,
            jaccard_threshold,
            corpus_sh=corpus_sh,
        ).write.mode("overwrite").parquet(
            os.path.join(out_dir, "pairs", f"batch_id={batch_id}")
        )

    return start_gate(doc_stream, gate, checkpoint_dir)


def run_decontamination_stream(
    spark: SparkSession,
    doc_stream: DataFrame,
    bench_grams: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    n: int | None = None,
):
    """Benchmark decontamination as an INGEST GATE (the
    decontamination family's streaming twin; the batch audit is
    text.benchmark_ngram_contamination): every micro-batch of
    candidate training documents is probed against the broadcast
    benchmark n-gram set BEFORE admission. Three per-batch ledgers:

      `out_dir/report/batch_id=N`     per-source doc counts,
                                      contaminated counts, rate
      `out_dir/admitted/batch_id=N`   docs passing the gate (what
                                      feeds the training run)
      `out_dir/quarantine/batch_id=N` flagged docs (kept for audit,
                                      never silently dropped)

    This is what decontamination looks like in a live crawl: a batch
    that swept an eval-hosting mirror shows its source's rate jump
    in that batch's report — the transition the one-shot batch audit
    cannot show.

    Idempotent under foreachBatch's at-least-once (batch-keyed
    overwrite). Per-batch cost: n-gram fan-out of the batch + one
    broadcast semi-join + per-source aggregate — O(|batch|); the
    benchmark set is precomputed by the caller (persist it — it is
    probed every batch) and the corpus is never touched."""
    from ..operators import text as text_ops

    n = text_ops.BENCH_NGRAM_N if n is None else n

    @nonempty_batch
    def gate(batch_df: DataFrame, batch_id: int) -> None:
        flagged = text_ops.flag_contaminated(
            batch_df, bench_grams, n, fan=False
        ).persist()
        hit = F.coalesce(F.col("hit"), F.lit(0))
        try:
            report = (
                batch_df.join(
                    flagged.withColumn("hit", F.lit(1)), "doc_id", "left"
                )
                .groupBy("source")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_docs"),
                    F.sum(hit).cast("long").alias("n_contaminated"),
                    (
                        F.floor(
                            F.sum(hit) / F.count(F.lit(1)) * 10000 + 0.5
                        ).cast("long")
                        / 10000.0
                    ).alias("contamination_rate"),
                )
            )
            # the three writes run serially: each is a sub-0.5 s
            # batch-sized job, and a thread pool's py4j contention eats
            # the overlap (unlike run_ingest_fanout_stream's landings,
            # which are heavy enough to profit)
            report.write.mode("overwrite").parquet(
                os.path.join(out_dir, "report", f"batch_id={batch_id}")
            )
            batch_df.join(flagged, "doc_id", "left_anti").write.mode(
                "overwrite"
            ).parquet(
                os.path.join(out_dir, "admitted", f"batch_id={batch_id}")
            )
            batch_df.join(flagged, "doc_id", "left_semi").write.mode(
                "overwrite"
            ).parquet(
                os.path.join(out_dir, "quarantine", f"batch_id={batch_id}")
            )
        finally:
            flagged.unpersist()

    return start_gate(doc_stream, gate, checkpoint_dir)


def run_cluster_update_stream(
    spark: SparkSession,
    doc_stream: DataFrame,
    band_index_path: str,
    corpus: DataFrame,
    labels_path: str,
    checkpoint_dir: str,
    jaccard_threshold: float = 0.6,
):
    """Streaming maintenance of the CLUSTER artifact — the full
    near-dup lifecycle as a service: each micro-batch (1) publishes
    its band signatures and raw docs as batch-keyed segments (later
    batches can then near-dup against THIS batch, not just the base
    corpus), (2) probes the band index (base ∪ all segments, through
    the tombstone-aware serving read) and Jaccard-verifies the
    candidates, and (3) folds the verified pairs into the maintained
    (doc_id, cluster_id) labels with incremental connected components
    — star rounds over |labels| + |batch pairs| edges, never a corpus
    re-cluster — publishing the new labels by rename-swap.

    Replay safety is ALGEBRAIC, not bookkept: connected components
    are idempotent under edge re-addition, so a replayed batch
    re-folding its own pairs cannot change any component; the segment
    writes are batch-keyed overwrites as everywhere else. Cross-batch
    duplicates (batch j near-duplicating batch i < j) are found
    because batch i's bands already sit in the index when j probes."""
    import uuid

    from ..operators import artifact_lifecycle as alc
    from ..operators import dedup

    # the seed corpus is STATIC across the stream — shingle it once
    # (eager ckpt in the bounded FIFO); per micro-batch only the
    # published doc segments + the batch itself are shingled fresh
    _mode = dedup.band_index_tokenizer(band_index_path)
    while len(dedup._sh_ckpt_cache) >= dedup._SH_CKPT_KEEP:
        dedup._sh_ckpt_cache.pop(0).unpersist()
    corpus_sh = dedup._band_shingles(corpus, _mode).localCheckpoint(
        eager=True
    )
    dedup._sh_ckpt_cache.append(corpus_sh)

    @nonempty_batch
    def gate(batch_df: DataFrame, batch_id: int) -> None:
        # (1) publish this batch's bands + docs (idempotent)
        dedup.band_index_add(spark, band_index_path, batch_df, batch_id)
        batch_df.write.mode("overwrite").parquet(
            os.path.join(labels_path, "docs", f"batch_id={batch_id}")
        )
        # (2) probe base ∪ segments; shingle-verify needs the candidate
        # partners' TEXT — corpus plus every doc segment published so
        # far. The CURRENT batch's segment is excluded from the store:
        # the probe unions `batch_df` itself, and corpus_sh's
        # disjointness contract forbids a doc's shingles appearing twice.
        docs_dir = os.path.join(labels_path, "docs")
        prior_segs = (
            spark.read.option("basePath", docs_dir)
            .parquet(docs_dir)
            .filter(F.col("batch_id") != batch_id)
            .select(*corpus.columns)
        )
        store = corpus.unionByName(prior_segs)
        # fan=False: the published segments are micro-batch-sized — no
        # parallelism-floor probe per batch
        store_sh = corpus_sh.unionByName(
            dedup._band_shingles(prior_segs, _mode, fan=False)
        )
        pairs = dedup.incremental_near_dups_indexed(
            spark,
            band_index_path,
            store,
            batch_df,
            jaccard_threshold,
            corpus_sh=store_sh,
        ).filter(F.col("doc_a") != F.col("doc_b"))
        # (3) fold into the maintained labels (fenced swap)
        alc.recover_torn_swap(labels_path, "labels")
        cur = os.path.join(labels_path, "labels")
        seeded = os.path.join(labels_path, "_labels_seeded")
        if os.path.isdir(cur):
            prev = _rp(spark, cur)
        elif os.path.exists(seeded):
            # the artifact has published before but the labels dir is
            # gone AND recover_torn_swap found no repairable marker
            # state — external deletion or pre-fence wreckage. Silently
            # starting from empty would rebuild labels from only THIS
            # batch's pairs, discarding all corpus clustering; fail
            # loudly (a torn FENCED swap never reaches here — recovery
            # rolls it to scratch or old automatically).
            raise RuntimeError(
                "labels artifact missing but its seed marker "
                f"exists under {labels_path!r} — refusing to "
                "rebuild from one batch; restore the "
                "pre-swap .labels_old_* directory to "
                "labels/ (or delete the _labels_seeded "
                "marker to intentionally start over)."
            )
        else:
            prev = spark.createDataFrame([], "doc_id long, cluster_id long")
        new_labels = dedup.incremental_near_dup_clusters(
            prev, pairs.select("doc_a", "doc_b")
        )
        scratch = os.path.join(labels_path, f".labels_{uuid.uuid4().hex}")
        new_labels.write.parquet(scratch)
        # seed marker BEFORE the swap: from here on, a missing labels
        # dir is a torn publish, never a legitimate first batch
        with open(seeded, "w") as fh:
            fh.write("1")
        # fenced swap: a crash between the renames self-heals on the
        # next lifecycle entry (the loud-fail above remains only for
        # non-swap wreckage)
        alc.atomic_swap_dir(labels_path, "labels", scratch)

    return start_gate(doc_stream, gate, checkpoint_dir)


def cluster_labels_erase_artifact(
    spark: SparkSession,
    labels_path: str,
    corpus_docs: DataFrame,
    erase_ids: DataFrame,
    jaccard_threshold: float = 0.6,
) -> dict:
    """Right-to-be-forgotten on the PUBLISHED cluster-labels artifact
    (the run_cluster_update_stream layout: `labels/` + seed marker):
    read the current labels, drop the erased subjects AND re-derive
    the touched clusters' structure (dedup.cluster_labels_erase — a
    ghost bridge must split its cluster, not keep serving the erased
    doc's connectivity), publish by rename-swap. An empty result is a
    LEGITIMATE labels state (no near-dup pairs left) and plain
    parquet writes of empty DataFrames are schema-bearing, so no
    empty-publish refusal applies here, unlike the index compactors.

    Idempotent: re-erasing the same subjects finds no touched
    clusters and republishes identical labels. Cost: one broadcast
    anti-join scan of the artifact + a member-local re-pair bounded
    by the touched clusters' sizes."""
    import uuid

    from ..operators.dedup import (
        cluster_labels_erase,
        require_local_index_path,
    )

    from ..operators import artifact_lifecycle as alc

    require_local_index_path("cluster_labels_erase_artifact", labels_path)
    alc.recover_torn_swap(labels_path, "labels")
    cur = os.path.join(labels_path, "labels")
    seeded = os.path.join(labels_path, "_labels_seeded")
    if not os.path.isdir(cur):
        if os.path.exists(seeded):
            # unreachable for a torn FENCED swap (recovery above
            # rolls it forward/back) — external deletion only
            raise RuntimeError(
                "labels artifact missing but its seed marker exists "
                f"under {labels_path!r} — torn rename-swap; restore "
                "the pre-swap .labels_old_* directory before erasing."
            )
        return {"n_rows_before": 0, "n_rows_after": 0, "n_erased_rows": 0}
    labels = _rp(spark, cur)
    n_before = int(labels.count())
    ids = erase_ids.select("doc_id").distinct()
    n_erased_rows = int(labels.join(F.broadcast(ids), "doc_id").count())
    new_labels = cluster_labels_erase(
        labels, corpus_docs, ids, jaccard_threshold
    )
    scratch = os.path.join(labels_path, f".labels_erase_{uuid.uuid4().hex}")
    new_labels.write.parquet(scratch)
    alc.atomic_swap_dir(labels_path, "labels", scratch)
    # count from the published dir (a dot-prefixed scratch read trips
    # Spark's hidden-path filter warning)
    n_after = int(_rp(spark, cur).count())
    return {
        "n_rows_before": n_before,
        "n_rows_after": n_after,
        "n_erased_rows": n_erased_rows,
    }


def run_cluster_erase_stream(
    spark: SparkSession,
    erase_stream: DataFrame,
    labels_path: str,
    corpus_docs: DataFrame,
    checkpoint_dir: str,
    jaccard_threshold: float = 0.6,
):
    """Right-to-be-forgotten REQUESTS as a stream against the
    maintained cluster-labels artifact: each micro-batch of (doc_id)
    erase requests applies cluster_labels_erase_artifact — subjects'
    rows leave the labels and the touched clusters' structure is
    re-derived (ghost bridges split), published by rename-swap.

    Replay safety is ALGEBRAIC, like the cluster-update stream's:
    erasure is idempotent (re-erasing absent subjects touches no
    cluster and republishes identical labels), so a replayed batch
    cannot change the artifact. Later batches erase against the
    already-reduced labels; the member re-pair only ever consults
    surviving members, so the static corpus relation needs no
    maintenance between batches. The batch+stream pair completes the
    governance symmetry: every maintained artifact (IVF-PQ, band,
    chunk-digest, cluster labels) now erases in BOTH modes."""

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        cluster_labels_erase_artifact(
            spark,
            labels_path,
            corpus_docs,
            batch_df.select("doc_id"),
            jaccard_threshold,
        )

    return start_gate(erase_stream, gate, checkpoint_dir)


def run_erase_request_stream(
    spark: SparkSession,
    req_stream: DataFrame,
    ledger_path: str,
    appliers: dict,
    checkpoint_dir: str,
    clock=None,
):
    """GDPR erase-request INTAKE as a stream: each micro-batch of
    (request_id, doc_id) rows is grouped per request, durably OPENED
    in the erase-request ledger (subjects recorded before any
    artifact is touched), then driven across all artifact appliers
    by the resumable workflow — the durable batch machinery
    (operators/governance.py) running per micro-batch, completing
    the serve-mode symmetry for governance itself: requests arrive
    continuously, and a driver crash at ANY point (mid-batch,
    between artifacts) leaves a visible, resumable gap instead of a
    silent partial application.

    Replay safety is BOOKKEPT BY THE LEDGER, not by the stream: a
    replayed batch re-opens the same request with the same subjects
    (idempotent overwrite; a request is complete within one batch by
    intake contract) and apply_erase_request skips every artifact
    whose applied marker exists — a marker lost in the crash window
    re-runs the artifact's own idempotent erase as a no-op. Distinct
    request ids per batch are a bounded driver collect (requests are
    human-scale, the ledger's own listing discipline).

    `clock` (optional, () -> int epoch seconds) stamps intake and
    per-artifact applied event times into the ledger — the SLA
    dimension (erase_request_sla_report) flowing through the
    streaming intake path too; first-intake wins on replay, so a
    replayed batch cannot reset a request's SLA clock."""
    from ..operators import governance as gov

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            rids = [
                r.request_id
                for r in batch_df.select("request_id")
                .distinct()
                .collect()
            ]
            for rid in sorted(rids):
                subjects = batch_df.filter(
                    F.col("request_id") == rid
                ).select("doc_id")
                gov.erase_request_open(
                    spark,
                    ledger_path,
                    rid,
                    subjects,
                    intake_ts=None if clock is None else int(clock()),
                )
                gov.apply_erase_request(
                    spark, ledger_path, rid, appliers, clock=clock
                )
        finally:
            batch_df.unpersist()

    return start_gate(req_stream, gate, checkpoint_dir)


def _sla_prior_hwm(
    spark: SparkSession, out_dir: str, batch_id: int
) -> int | None:
    """The event-time high-water mark recorded by EARLIER batches'
    published reports (`as_of_ts` column of sla/batch_id<N) — the
    durable watermark chain a replayed batch re-derives its cutoff
    from. Strictly-earlier segments only: a replay must not see its
    own (or a later) batch's mark."""
    d = os.path.join(out_dir, "sla")
    if not os.path.isdir(d):
        return None
    segs = [
        os.path.join(d, e)
        for e in os.listdir(d)
        if e.startswith("batch_id=")
        and int(e.split("=", 1)[1]) < batch_id
        # committed segments only: a torn earlier segment (crash
        # mid-publish) replays before this batch anyway
        and os.path.isfile(os.path.join(d, e, "_SUCCESS"))
    ]
    if not segs:
        return None
    row = (
        spark.read.parquet(*segs)
        .agg(F.max("as_of_ts").alias("m"))
        .collect()[0]
    )
    return None if row.m is None else int(row.m)


def run_erasure_sla_stream(
    spark: SparkSession,
    event_stream: DataFrame,
    ledger_path: str,
    deadline_seconds: int,
    out_dir: str,
    checkpoint_dir: str,
    artifacts: tuple[str, ...] | None = None,
):
    """The erasure-SLA TIME dimension as a STREAM
    (erasure_sla_audit is batch-over-ledger; every other
    lifecycle family has both modes). Input: ledger EVENTS with
    event time — `kind='intake'` rows open a request (doc_id =
    subject, event_ts = intake), `kind='applied'` rows stamp an
    artifact's completion. Each micro-batch (1) folds its events
    into the durable ledger through the same public API the batch
    workflow uses (erase_request_open / erase_request_mark_applied —
    first-intake wins, marker overwrite idempotent), then (2)
    evaluates erase_request_sla_report AS OF the batch's event-time
    high-water mark — max(batch event times, earlier batches'
    recorded marks) — with `event_time_cutoff` at the same mark, and
    publishes it (with its `as_of_ts`) as `sla/batch_id=N`. A
    request whose deadline passes unresolved flags in the FIRST
    batch whose high-water mark crosses intake + deadline:
    live-breach detection in event time, the availableNow analogue
    of a watermark-driven windowed monitor.

    Replay safety: the ledger bookkeeps the fold (a replayed batch's
    opens/stamps no-op — first-intake wins, marker bodies
    identical), the high-water mark re-derives from the batch plus
    STRICTLY-EARLIER published segments (never driver state, never
    its own or later segments), and the event-time cutoff makes the
    fold see the ledger as it was at that mark — so a replayed
    batch's report is byte-identical even after later batches
    folded newer events, and the batch-keyed overwrite republishes
    it.

    Scale shape: per-batch driver work is request-sized (the
    ledger's bounded-scalar discipline); the report is one row per
    request; no corpus-sized relation anywhere."""
    from ..operators import governance as gov

    arts = (
        tuple(artifacts)
        if artifacts is not None
        else gov.ERASURE_ARTIFACTS
    )

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            intakes = batch_df.filter(F.col("kind") == "intake")
            rids = [
                (r.request_id, r.its)
                for r in intakes.groupBy("request_id")
                .agg(F.min("event_ts").alias("its"))
                .collect()
            ]
            for rid, its in sorted(rids):
                gov.erase_request_open(
                    spark,
                    ledger_path,
                    rid,
                    intakes.filter(
                        F.col("request_id") == rid
                    ).select("doc_id"),
                    intake_ts=int(its),
                )
            applied = [
                (r.request_id, r.artifact, r.event_ts)
                for r in batch_df.filter(
                    F.col("kind") == "applied"
                ).collect()
            ]
            for rid, art, ts in sorted(applied):
                gov.erase_request_mark_applied(
                    ledger_path, rid, art, applied_ts=int(ts)
                )
            batch_max = batch_df.agg(
                F.max("event_ts").alias("m")
            ).collect()[0].m
            prior = _sla_prior_hwm(spark, out_dir, int(batch_id))
            marks = [
                t for t in (batch_max, prior) if t is not None
            ]
            if not marks:
                return
            hwm = max(int(t) for t in marks)
            gov.erase_request_sla_report(
                spark,
                ledger_path,
                deadline_seconds,
                as_of_ts=hwm,
                artifacts=arts,
                event_time_cutoff=hwm,
            ).withColumn(
                "as_of_ts", F.lit(hwm).cast("long")
            ).write.mode("overwrite").parquet(
                os.path.join(out_dir, "sla", f"batch_id={batch_id}")
            )
        finally:
            batch_df.unpersist()

    return start_gate(event_stream, gate, checkpoint_dir)


def run_ingest_fanout_stream(
    spark: SparkSession,
    doc_stream: DataFrame,
    manifest_path: str,
    prefix_path: str,
    chunk_path: str,
    checkpoint_dir: str,
):
    """ONE ingest read maintains THREE artifacts per micro-batch —
    the reference's multi-sink fix (foreachBatch fan-out over a
    single read, Real_Time_Data.py re-read 3×; K2) elevated to
    artifact maintenance: each document batch lands its shard-
    manifest terms, its prompt prefix chains, and its refcounted
    chunk digests, all as batch-keyed segment OVERWRITES so a
    replayed batch replaces its own segments on every artifact
    (the bookkept discipline each artifact already mandates — fold
    happens at serving read / compaction, never in place).

    Chunk-index note: the fan-out writes the batch's FULL refcount
    delta as one adds segment; the dedup gate's adds/rerefs split
    (first-introduction vs re-reference) is a classification-ledger
    concern, not a refcount one — each chunk instance lands in
    exactly one segment, so compaction's Σrefs equals the rebuild's
    (value-checked by streaming_ingest_fanout's oracle)."""
    from ..operators import dedup
    from ..operators.text import sft_prefix_digests

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()

        def _land_manifest():
            manifest_add_batch(spark, manifest_path, batch_df, batch_id)

        def _land_prefix():
            sft_prefix_digests(
                batch_df.withColumn(
                    "text", F.concat(F.lit("u: "), F.col("text"))
                )
            ).write.mode("overwrite").parquet(
                os.path.join(
                    prefix_path, "adds", f"batch_id={batch_id}"
                )
            )

        def _land_chunks():
            # chunk with the INDEX'S recorded tokenizer — a lang-aware
            # artifact must never take whitespace-chunked segments
            dedup.chunk_digest_index(
                batch_df, tokenizer=chunk_index_tokenizer(chunk_path)
            ).write.mode("overwrite").parquet(
                os.path.join(chunk_path, "adds", f"batch_id={batch_id}")
            )

        try:
            # the three artifact landings are independent batch-keyed
            # segment writes to disjoint dirs — overlap them (guide
            # §2.6): one batch's three pipelines back-fill each
            # other's barrier tails; the shared batch_df persist is
            # block-locked, so the first task computes each partition
            # and the other threads' jobs read the cached blocks
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=3) as pool:
                futs = [
                    pool.submit(f)
                    for f in (_land_manifest, _land_prefix, _land_chunks)
                ]
                for fu in futs:
                    fu.result()
        finally:
            batch_df.unpersist()

    return start_gate(doc_stream, gate, checkpoint_dir)


def run_boilerplate_scrub_stream(
    spark: SparkSession,
    doc_stream: DataFrame,
    template_path: str,
    cleaned_dir: str,
    checkpoint_dir: str,
):
    """Streaming boilerplate scrub against the MAINTAINED template
    artifact (text.write_template_index — detected once per corpus
    version): each document micro-batch is scrubbed with
    scrub_with_templates (frozen broadcast-sized template set, no
    detection on the hot path — the quality gate's
    train-batch/serve-stream split applied to cleanup) and the
    cleaned docs land idempotently (overwrite by batch id). Scrubbing
    is per-doc, so streamed batches against the frozen templates
    equal the one-shot batch scrub of their union — the registered
    query's oracle IS the batch op's."""
    from ..operators.text import read_template_index, scrub_with_templates

    templates = read_template_index(spark, template_path)

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        scrub_with_templates(batch_df, templates).write.mode(
            "overwrite"
        ).parquet(os.path.join(cleaned_dir, f"batch_id={batch_id}"))

    return start_gate(doc_stream, gate, checkpoint_dir)


def run_pii_redact_stream(
    spark: SparkSession,
    doc_stream: DataFrame,
    redacted_dir: str,
    checkpoint_dir: str,
):
    """Streaming PII redaction — the third content gate beside the
    quality gate and the boilerplate scrub, completing the
    serve-mode symmetry: every curation decision the engine makes in
    batch (score, scrub, redact) also runs per micro-batch on the
    ingest stream. The redaction is a narrow JVM-regex map
    (text.pii_redact_documents — no state, no model, no artifact),
    so each batch lands idempotently (overwrite by batch id) and the
    streamed union equals the one-shot batch redaction — the
    registered query's oracle IS the batch op's."""
    from ..operators.text import pii_redact_documents

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        pii_redact_documents(batch_df).write.mode("overwrite").parquet(
            os.path.join(redacted_dir, f"batch_id={batch_id}")
        )

    return start_gate(doc_stream, gate, checkpoint_dir)


def build_sft_prefix_index(corpus: DataFrame, path: str) -> None:
    """Materialize the maintained SFT prefix-digest index: `base`
    holds the corpus conversations' (doc_id, u_idx, prefix_digest)
    chains (text.sft_prefix_digests); `adds/batch_id=N` segments
    accumulate from the streaming gate. The chat-ingest sibling of
    the band/chunk index discipline — incoming conversations probe
    it BEFORE admission instead of auditing prompt reuse after."""
    from ..operators.text import sft_prefix_digests

    sft_prefix_digests(corpus).write.mode("overwrite").parquet(
        os.path.join(path, "base")
    )


def read_sft_prefix_index(
    spark: SparkSession, path: str, exclude_batch_id: int | None = None
) -> DataFrame:
    """base ∪ per-batch adds segments as one prefix relation;
    `exclude_batch_id` drops every segment with batch id >= it —
    NOT just the batch's own segment: stream batch ids are
    monotone, so a replayed batch N must probe exactly the view it
    originally saw (base ∪ batches < N). Excluding only its own
    segment would let the replay see LATER batches' prefixes and
    flag conversations against future content (measured: the replay
    pytest flagged an earlier batch's doc against a later batch's
    duplicate before this ge-exclusion)."""
    from ..operators import artifact_lifecycle as alc
    from ..operators.dedup import require_local_index_path

    require_local_index_path("read_sft_prefix_index", path)
    alc.recover_torn_compaction(path, "base")
    rel = _rp(spark, os.path.join(path, "base")).select(
        "doc_id", "u_idx", "prefix_digest"
    )
    adds_dir = os.path.join(path, "adds")
    if os.path.isdir(adds_dir):
        for e in sorted(os.listdir(adds_dir)):
            if not e.startswith("batch_id="):
                continue
            bid = e.split("=", 1)[1]
            if (
                exclude_batch_id is not None
                and bid.isdigit()
                and int(bid) >= int(exclude_batch_id)
            ):
                continue
            # committed segments only (_SUCCESS gate, the
            # _committed_segment_dirs argument): a CONCURRENT add's
            # dir exists mid-write with only a _temporary subtree and
            # the per-child read throws; an uncommitted batch's
            # prefixes are not yet published, and its foreachBatch
            # replay re-lands them idempotently
            if not os.path.isfile(
                os.path.join(adds_dir, e, "_SUCCESS")
            ):
                continue
            rel = rel.unionByName(
                _rp(spark, os.path.join(adds_dir, e)).select(
                    "doc_id", "u_idx", "prefix_digest"
                )
            )
    ts = _read_prefix_tombstones(spark, path)
    if ts is not None:
        # erased subjects' chains can never surface as partners even
        # before compaction folds them out physically
        rel = rel.join(F.broadcast(ts), "doc_id", "left_anti")
    return rel


def sft_prefix_index_erase(
    spark: SparkSession,
    path: str,
    erase_ids: DataFrame,
    seg_id: int | str | None = None,
) -> dict:
    """Right-to-be-forgotten on the prefix index — the SIXTH
    maintained artifact joins the governance story the moment it
    exists: prefix digests are DERIVED from the subjects' prompts
    (the band-signature argument), so erasure must reach them.
    Tombstone segments of doc_ids (`tombstones/seg_id=N`), excluded
    by the serving read until compaction folds them physically.
    uuid default seg_id (no max+1 race); explicit batch-derived keys
    for foreachBatch idempotence. Id-tombstones are naturally
    idempotent under repeats — no subject ledger needed (the band
    index's discipline, not the manifest's)."""
    import uuid

    from ..operators import artifact_lifecycle as alc
    from ..operators.dedup import require_local_index_path

    require_local_index_path("sft_prefix_index_erase", path)
    alc.recover_torn_compaction(path, "base")
    if seg_id is None:
        seg_id = uuid.uuid4().hex
    ids = erase_ids.select("doc_id").distinct()
    ids.write.mode("overwrite").parquet(
        os.path.join(path, "tombstones", f"seg_id={seg_id}")
    )
    n = int(
        _rp(spark, 
            os.path.join(path, "tombstones", f"seg_id={seg_id}")
        ).count()
    )
    return {"seg_id": seg_id, "n_ids": n}


def _read_prefix_tombstones(spark: SparkSession, path: str):
    ts_dir = os.path.join(path, "tombstones")
    if os.path.isdir(ts_dir) and any(
        e.startswith("seg_id=") for e in os.listdir(ts_dir)
    ):
        return _rp(spark, ts_dir).select("doc_id").distinct()
    return None


def sft_prefix_index_compact(
    spark: SparkSession, path: str, snapshot: bool = False
) -> dict:
    """Fold the prefix index's ledgers (adds ∪ base minus tombstoned
    doc_ids) into a clean base — CRASH-FENCED via the shared
    epoch-marker protocol like every other artifact compactor."""
    import uuid

    from ..operators import artifact_lifecycle as alc
    from ..operators.dedup import (
        require_local_index_path,
        require_nonempty_parquet_scratch,
    )

    require_local_index_path("sft_prefix_index_compact", path)
    alc.recover_torn_compaction(path, "base")
    specs = [("adds", "batch_id"), ("tombstones", "seg_id")]
    segs = alc.list_segment_dirs(path, specs)
    if not segs:
        return {"n_add_segments": 0, "n_tombstoned": 0}
    marker = alc.begin_compaction(path, "base", segs, snapshot=snapshot)
    add_segs = [s for s in segs if s.startswith("adds/")]
    ts_segs = [s for s in segs if s.startswith("tombstones/")]
    rel = _rp(spark, os.path.join(path, "base")).select(
        "doc_id", "u_idx", "prefix_digest"
    )
    for s in add_segs:
        rel = rel.unionByName(
            _rp(spark, os.path.join(path, s)).select(
                "doc_id", "u_idx", "prefix_digest"
            )
        )
    n_ts = 0
    if ts_segs:
        parts = [
            _rp(spark, os.path.join(path, s)).select("doc_id")
            for s in ts_segs
        ]
        ts = parts[0]
        for pt in parts[1:]:
            ts = ts.unionByName(pt)
        ts = ts.distinct()
        n_ts = int(ts.count())
        rel = rel.join(F.broadcast(ts), "doc_id", "left_anti")
    scratch = os.path.join(path, f".base_compact_{uuid.uuid4().hex}")
    rel.write.parquet(scratch)
    require_nonempty_parquet_scratch(scratch, "SFT prefix index")
    alc.stamp_scratch_epoch(scratch, marker["to_epoch"])
    alc.publish_base(
        path,
        "base",
        scratch,
        snapshot_epoch=marker["to_epoch"] if snapshot else None,
    )
    alc.finish_compaction(path, marker)
    return {
        "n_add_segments": len(add_segs),
        "n_tombstoned": n_ts,
        "epoch": marker["to_epoch"],
    }


def read_sft_prefix_index_as_of(
    spark: SparkSession, path: str, epoch: int
) -> DataFrame:
    """Time-travel read of the prefix index: fold the retained
    snapshot (old base ∪ retired adds, minus retired tombstones)
    into the state the artifact served at commit `epoch`. NOTE the
    governance interaction this read makes visible: a snapshot
    retained BEFORE an erase request was folded still carries the
    subjects' chains — snapshot_erasure_audit measures that leak and
    drop_snapshot closes it."""
    from ..operators import artifact_lifecycle as alc
    from ..operators.dedup import require_local_index_path

    require_local_index_path("read_sft_prefix_index_as_of", path)
    snap = alc.snapshot_dir(path, epoch)
    if not os.path.isdir(snap):
        raise ValueError(
            f"no retained snapshot for epoch {epoch} under {path!r} "
            f"(retained: {alc.snapshot_epochs(path)})"
        )
    rel = _rp(spark, os.path.join(snap, "base")).select(
        "doc_id", "u_idx", "prefix_digest"
    )
    adds_dir = os.path.join(snap, "adds")
    if os.path.isdir(adds_dir) and any(
        e.startswith("batch_id=") for e in os.listdir(adds_dir)
    ):
        rel = rel.unionByName(
            _rp(spark, adds_dir).select(
                "doc_id", "u_idx", "prefix_digest"
            )
        )
    ts_dir = os.path.join(snap, "tombstones")
    if os.path.isdir(ts_dir) and any(
        e.startswith("seg_id=") for e in os.listdir(ts_dir)
    ):
        ts = _rp(spark, ts_dir).select("doc_id").distinct()
        rel = rel.join(F.broadcast(ts), "doc_id", "left_anti")
    return rel


def run_sft_prefix_gate_stream(
    spark: SparkSession,
    conv_stream: DataFrame,
    index_path: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Streaming PROMPT-PREFIX dedup gate over the maintained prefix
    index: each micro-batch of conversations (1) probes base ∪ all
    earlier batches' prefix chains — a conversation sharing a
    depth-k user-turn prefix with ANY prior conversation is flagged
    with its deepest shared depth and partner count (the chat-data
    admission check sft_prefix_dedup runs as a batch audit), and
    (2) publishes its own chains as `adds/batch_id=N` so later
    batches dedup against it. Batch-keyed overwrites + own-segment
    exclusion make a replayed batch reproduce its original flags
    (at-least-once safety, the chunk-dedup stream's discipline).

    Per-batch cost: the batch's per-doc windows + one
    (u_idx, digest)-keyed probe join against the index scan —
    O(|batch|)-driven; prefix groups shuffle digests, never text."""
    from pyspark.sql import Window

    from ..operators.text import sft_prefix_digests

    @nonempty_batch
    def gate(batch_df: DataFrame, batch_id: int) -> None:
        pf = sft_prefix_digests(batch_df).persist()
        try:
            idx = read_sft_prefix_index(
                spark, index_path, exclude_batch_id=batch_id
            )
            hits = pf.join(
                idx.select(
                    "u_idx",
                    "prefix_digest",
                    F.col("doc_id").alias("partner_id"),
                ),
                ["u_idx", "prefix_digest"],
            ).filter(F.col("partner_id") != F.col("doc_id"))
            per_depth = hits.groupBy("doc_id", "u_idx").agg(
                F.count_distinct("partner_id").alias("n_partners")
            )
            deepest = per_depth.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("doc_id").orderBy(F.col("u_idx").desc())
                ),
            ).filter(F.col("rn") == 1)
            deepest.select(
                "doc_id",
                F.col("u_idx").cast("long").alias("shared_depth"),
                F.col("n_partners").cast("long").alias("n_partners"),
            ).write.mode("overwrite").parquet(
                os.path.join(out_dir, "flags", f"batch_id={batch_id}")
            )
            pf.write.mode("overwrite").parquet(
                os.path.join(index_path, "adds", f"batch_id={batch_id}")
            )
        finally:
            pf.unpersist()

    return start_gate(conv_stream, gate, checkpoint_dir)


MANIFEST_TOKENIZER_FILE = "_tokenizer.json"


def manifest_tokenizer(path: str) -> str:
    """The manifest artifact's recorded token UNIT — an ARTIFACT
    PARAMETER (the band/chunk-index discipline): every batch add,
    erase delta, and the packing-verify consumer must count tokens
    in the unit the base was built with, or the additive n_tokens
    algebra silently mixes units. Artifacts written before the meta
    existed read as whitespace (their actual unit)."""
    import json

    from ..operators.artifact_lifecycle import require_completed_build

    require_completed_build(path, "manifest_tokenizer")
    meta = os.path.join(path, MANIFEST_TOKENIZER_FILE)
    if os.path.isfile(meta):
        with open(meta) as fh:
            return json.load(fh)["tokenizer"]
    return "whitespace"


def _manifest_shard_rows(
    documents: DataFrame, tokenizer: str = "whitespace"
) -> DataFrame:
    """Per-shard (n_docs, n_tokens, content_xor) rows for a document
    slice — the manifest's additive/xor terms (text.shard_manifest
    minus the non-invertible id range). `tokenizer` is the EXPLICIT
    unit: artifact paths pass the recorded mode
    (manifest_tokenizer); `lang_aware` counts CHARS on the
    NONWS_LANGS partition (text.budget_token_count)."""
    from ..operators.text import (
        BUDGET_TOKENIZERS,
        PACK_SHARDS,
        budget_token_count,
    )

    if tokenizer not in BUDGET_TOKENIZERS:
        raise ValueError(f"unknown budget tokenizer: {tokenizer!r}")
    if tokenizer == "lang_aware" and "lang" not in documents.columns:
        raise ValueError(
            "lang_aware manifest rows need a lang column on the docs"
        )
    h = F.md5(F.col("doc_id").cast("string"))
    shard = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % PACK_SHARDS
    )
    ct = F.conv(
        F.substring(F.md5(F.col("text")), 1, 15), 16, 10
    ).cast("long")
    return (
        documents.select(
            shard.alias("shard"),
            budget_token_count(tokenizer).alias("n_tok"),
            ct.alias("ct"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.expr("bit_xor(ct)").cast("long").alias("content_xor"),
        )
    )


def build_manifest_artifact(
    corpus: DataFrame, path: str, tokenizer: str = "whitespace"
) -> None:
    """Materialize the MAINTAINED manifest artifact (the fifth
    maintained artifact, after the IVF-PQ index, band index,
    chunk-digest index and cluster labels): `{path}/base` holds the
    per-shard manifest rows; `adds/batch_id=N` and `erases/seg_id=N`
    segments accumulate until a compaction folds them.

    The token-count `tokenizer` is RECORDED in
    `{path}/_tokenizer.json` (a recorded parameter: n_tokens is
    additive across base/adds/erases, so a
    unit flip mid-life would silently mix words and chars; every
    add/erase/verify path reads the recorded mode). The meta lives
    at the artifact root, outside the base/adds/erases lifecycle,
    so compaction and the crash fence never touch it. Refuses to
    rebuild over live segments (the band/chunk-index discipline) —
    a rebuild with a different unit over live segments is exactly
    the mixed-unit serve the meta exists to prevent."""
    import json
    import os

    from ..operators.artifact_lifecycle import refuse_stale_segments
    from ..operators.text import BUDGET_TOKENIZERS

    if tokenizer not in BUDGET_TOKENIZERS:
        raise ValueError(f"unknown budget tokenizer: {tokenizer!r}")
    refuse_stale_segments(
        path, ("adds", "erases"), "build_manifest_artifact"
    )
    from ..operators.artifact_lifecycle import (
        begin_param_build,
        finish_param_build,
    )

    # build-intent fence: a crash between the base write and
    # the meta publish must read LOUD, not as the meta-less
    # whitespace fallback (or, on rebuild, the stale old meta).
    begin_param_build(
        path, "build_manifest_artifact", {"tokenizer": tokenizer}
    )
    _manifest_shard_rows(corpus, tokenizer=tokenizer).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "base"))
    tmp = os.path.join(path, f".{MANIFEST_TOKENIZER_FILE}.tmp")
    with open(tmp, "w") as fh:
        json.dump({"tokenizer": tokenizer}, fh)
    os.replace(tmp, os.path.join(path, MANIFEST_TOKENIZER_FILE))
    finish_param_build(path)


def manifest_packing_verify(
    spark: SparkSession, path: str, documents: DataFrame
) -> DataFrame:
    """MANIFEST CONSUMER CLOSURE: shard_manifest
    promises "verify a shard without re-reading the corpus" — this
    closes the loop from the consumer's side. Per shard, the SERVED
    manifest row (base ∪ segments, the maintained artifact's fold)
    is matched against the loader's own view: doc/token counts from
    sequence_packing_plan (the md5(doc_id) shard device the loader
    actually packs by) and the content xor recomputed from the docs
    that device assigns to the shard. counts_match/xor_match == 1
    everywhere proves manifest ↔ packing consistency end-to-end; a
    corrupted or tampered shard flips exactly its row (pytest plants
    one).

    Scale shape: the artifact fold is |shards| rows; the loader side
    is the packing plan's own one-scan shard aggregate plus one more
    shard-keyed xor aggregate; the verify join is |shards| rows. A
    real run samples shards — the full join here IS the sampled
    check at fixture scale."""
    from ..operators.text import sequence_packing_plan, shard_manifest

    # both sides count in the artifact's RECORDED unit — the
    # loader must pack by the same unit the manifest promises, or
    # counts_match would flag every NONWS-bearing shard
    tok = manifest_tokenizer(path)
    served = read_manifest_serving(spark, path).select(
        "shard", "n_docs", "n_tokens", "content_xor"
    )
    plan = sequence_packing_plan(documents, tokenizer=tok).select(
        "shard",
        F.col("n_docs").alias("packing_n_docs"),
        F.col("n_tokens").alias("packing_n_tokens"),
    )
    recomputed = shard_manifest(documents, tokenizer=tok).select(
        "shard", F.col("content_xor").alias("recomputed_xor")
    )
    return (
        served.join(plan, "shard", "full")
        .join(recomputed, "shard", "full")
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            "content_xor",
            "packing_n_docs",
            "packing_n_tokens",
            F.when(
                (F.col("n_docs") == F.col("packing_n_docs"))
                & (F.col("n_tokens") == F.col("packing_n_tokens")),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("counts_match"),
            F.when(F.col("content_xor") == F.col("recomputed_xor"), 1)
            .otherwise(0)
            .cast("long")
            .alias("xor_match"),
        )
        .orderBy("shard")
    )


def read_manifest_serving(spark: SparkSession, path: str) -> DataFrame:
    """THE manifest serving read: base ∪ add segments ∪ erase
    segments, folded per shard — counts SUM (erase segments carry
    negated counts) and digests XOR (self-inverting, so an erase
    segment carries the erased docs' own xor terms and cancels them
    out). Shards whose docs all left fold to zero and drop, exactly
    as a rebuild emits no row for an empty shard."""
    import os

    from ..operators.artifact_lifecycle import recover_torn_compaction
    from ..operators.dedup import require_local_index_path

    require_local_index_path("read_manifest_serving", path)
    recover_torn_compaction(path, "base")
    parts = [_rp(spark, os.path.join(path, "base"))]
    for seg in ("adds", "erases"):
        d = os.path.join(path, seg)
        if os.path.isdir(d) and any(
            e.split("=", 1)[0] in ("batch_id", "seg_id")
            for e in os.listdir(d)
        ):
            parts.append(
                _rp(spark, d).select(
                    "shard", "n_docs", "n_tokens", "content_xor"
                )
            )
    rel = parts[0]
    for p in parts[1:]:
        rel = rel.unionByName(p)
    return (
        rel.groupBy("shard")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.expr("bit_xor(content_xor)")
            .cast("long")
            .alias("content_xor"),
        )
        .filter(F.col("n_docs") > 0)
    )


def read_manifest_as_of(
    spark: SparkSession, path: str, epoch: int
) -> DataFrame:
    """TIME-TRAVEL read of the manifest artifact: the serving state
    as of compaction commit `epoch`, folded from the retained
    snapshot (the old base publish_base parked there + the segments
    that compaction retired — rename-only retention, no data copy).
    The fold is |shards|-sized, same as the live serving read; a
    snapshot that was never retained (discarding compaction, or
    vacuumed) fails loudly rather than serving the wrong epoch.

    This is the table format's snapshot read on the plain-filesystem
    protocol: reproduce exactly what a training run saw at commit N
    after later adds/erases/compactions moved the artifact on."""
    import os

    from ..operators import artifact_lifecycle as alc
    from ..operators.dedup import require_local_index_path

    require_local_index_path("read_manifest_as_of", path)
    snap = alc.snapshot_dir(path, epoch)
    if not os.path.isdir(snap):
        raise ValueError(
            f"no retained snapshot for epoch {epoch} under {path!r} "
            f"(retained: {alc.snapshot_epochs(path)}) — compact with "
            "snapshot=True, or the epoch was vacuumed"
        )
    parts = [_rp(spark, os.path.join(snap, "base"))]
    for seg in ("adds", "erases"):
        d = os.path.join(snap, seg)
        if os.path.isdir(d) and any(
            e.split("=", 1)[0] in ("batch_id", "seg_id")
            for e in os.listdir(d)
        ):
            parts.append(
                _rp(spark, d).select(
                    "shard", "n_docs", "n_tokens", "content_xor"
                )
            )
    rel = parts[0].select("shard", "n_docs", "n_tokens", "content_xor")
    for p in parts[1:]:
        rel = rel.unionByName(p)
    return (
        rel.groupBy("shard")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.expr("bit_xor(content_xor)")
            .cast("long")
            .alias("content_xor"),
        )
        .filter(F.col("n_docs") > 0)
    )


def run_manifest_update_stream(
    spark: SparkSession,
    doc_stream: DataFrame,
    manifest_path: str,
    checkpoint_dir: str,
):
    """Streaming maintenance of the manifest artifact: each document
    micro-batch lands its per-shard terms as `adds/batch_id=N`.

    REPLAY SAFETY IS NOT ALGEBRAIC HERE, by design: xor is its own
    inverse, so a destructive in-place fold of a replayed batch
    would CANCEL the batch's digest terms instead of no-opping (and
    the counts would double) — the opposite failure modes, both
    silent. Hence the ledger discipline is mandatory: batch-keyed
    segment OVERWRITE makes a replay replace its own segment, and
    folding only happens at the serving read / compaction. The
    docstring-level contrast with the cluster stream (where
    connected components ARE idempotent under edge re-addition) is
    the point: choose bookkeeping per operator algebra.

    Each batch also lands a `add_subjects/batch_id=N` doc_id sidecar
    and releases its subjects from the erasure-suppression ledger:
    content re-entering IS the re-consent event (the chunk index's
    discipline) — without it, a subject erased and later
    legitimately re-ingested could never be erased again. The
    sidecar is ids-only bookkeeping consulted ONLY at compaction
    (to exclude re-added subjects from the suppression ledger when
    their erase segment folds); the serve path never reads it."""

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        manifest_add_batch(spark, manifest_path, batch_df, batch_id)

    return start_gate(doc_stream, gate, checkpoint_dir)


def manifest_add_batch(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    batch_id: int | str,
) -> None:
    """Batch-mode adds landing — the stream gate's exact discipline
    (batch-keyed segment OVERWRITE for bookkept replay safety, the
    add_subjects re-consent sidecar, suppression-ledger release)
    exposed to the batch revision pipeline, so a one-shot revision
    lands through the same door a micro-batch does. Counts in the
    artifact's RECORDED token unit (manifest_tokenizer)."""
    docs.persist()
    try:
        _manifest_shard_rows(
            docs, tokenizer=manifest_tokenizer(path)
        ).write.mode("overwrite").parquet(
            os.path.join(path, "adds", f"batch_id={batch_id}")
        )
        docs.select("doc_id").distinct().write.mode("overwrite").parquet(
            os.path.join(path, "add_subjects", f"batch_id={batch_id}")
        )
        release_erased_subjects(spark, path, docs.select("doc_id"))
    finally:
        docs.unpersist()


def _manifest_repair_orphan_sidecars(path: str) -> int:
    """Drop `erase_subjects/seg_id=S` sidecars that have no matching
    `erases/seg_id=S` delta — the torn state a crash inside
    manifest_erase can leave (the sidecar is deliberately written
    first: an orphan sidecar merely re-opens the request, while the
    inverse orphan would leave an applied delta whose repeats are
    unsuppressed). Returns the number repaired."""
    import os
    import shutil

    es_dir = os.path.join(path, "erase_subjects")
    if not os.path.isdir(es_dir):
        return 0
    n = 0
    for e in os.listdir(es_dir):
        if e.startswith("seg_id=") and not os.path.isdir(
            os.path.join(path, "erases", e)
        ):
            shutil.rmtree(os.path.join(es_dir, e), ignore_errors=True)
            n += 1
    return n


def manifest_erase(
    spark: SparkSession,
    path: str,
    erased_docs: DataFrame,
    seg_id: int | str | None = None,
) -> dict:
    """Right-to-be-forgotten on the manifest artifact: the erase
    segment carries the erased docs' own terms with NEGATED counts —
    the xor digest needs no negation (self-inverting), so serving
    folds the subjects out exactly. Request-sized write, seg-keyed
    for idempotent replay.

    IDEMPOTENT under repeated requests: because
    xor self-inverts, a duplicate erase segment would double-subtract
    the counts and RE-ADD the erased digests into the serving fold —
    silent corruption. So each segment carries a doc_id subject
    sidecar (`erase_subjects/seg_id=S`), requested ids are anti-
    joined against every pending sidecar plus the post-fold
    `erased_subjects/` suppression ledger before the segment is
    written, and dropped repeats surface as `n_suppressed`.

    `seg_id` default is a uuid, not max+1 over a directory listing —
    two concurrent un-keyed erases can no longer collide on a
    segment name and overwrite each other; pass an
    explicit batch-derived key from foreachBatch for replay
    idempotence, exactly as before."""
    import os
    import uuid

    from ..operators.artifact_lifecycle import recover_torn_compaction
    from ..operators.dedup import require_local_index_path

    require_local_index_path("manifest_erase", path)
    recover_torn_compaction(path, "base")
    _manifest_repair_orphan_sidecars(path)
    if seg_id is None:
        seg_id = uuid.uuid4().hex
    requested = erased_docs.select("doc_id").distinct()
    n_requested = int(requested.count())
    known = _known_erased_subjects(
        spark, path, "erase_subjects", exclude=seg_id
    )
    if known is not None:
        requested = requested.join(
            F.broadcast(known), "doc_id", "left_anti"
        )
    surviving = erased_docs.join(
        F.broadcast(requested), "doc_id", "left_semi"
    )
    n_subjects = int(requested.count())
    if not n_subjects:
        return {
            "seg_id": None,
            "n_docs_erased": 0,
            "n_suppressed": n_requested,
        }
    delta = _manifest_shard_rows(
        surviving, tokenizer=manifest_tokenizer(path)
    ).select(
        "shard",
        (-F.col("n_docs")).alias("n_docs"),
        (-F.col("n_tokens")).alias("n_tokens"),
        "content_xor",
    )
    # sidecar BEFORE delta: a crash between the two writes leaves an
    # orphan sidecar (repaired by _manifest_repair_orphan_sidecars on
    # the next lifecycle entry), never a delta whose repeat-requests
    # are unsuppressed — the corruption-free failure direction
    requested.write.mode("overwrite").parquet(
        os.path.join(path, "erase_subjects", f"seg_id={seg_id}")
    )
    delta.write.mode("overwrite").parquet(
        os.path.join(path, "erases", f"seg_id={seg_id}")
    )
    return {
        "seg_id": seg_id,
        "n_docs_erased": n_subjects,
        "n_suppressed": n_requested - n_subjects,
    }


def manifest_compact(
    spark: SparkSession, path: str, snapshot: bool = False
) -> dict:
    """Fold the manifest ledgers into a clean base. An empty fold
    result (every doc erased) is a LEGITIMATE manifest — like the
    cluster labels, plain parquet writes of empty DataFrames are
    schema-bearing — but an artifact for an empty corpus is better
    deleted; the count is surfaced so callers can decide.

    CRASH-FENCED via the shared epoch-marker
    protocol (operators/artifact_lifecycle.py): the segment list is
    recorded in a pending marker BEFORE the fold, the fold reads
    ONLY the listed segments, the target epoch publishes atomically
    with the base, and recovery (run by every reader) rolls a torn
    state forward or back — a crash between the rename-swap and the
    ledger retirement can no longer double-fold the counts or
    xor-cancel the digests.

    Suppression-ledger ordering (the interleaving gap): the
    folded erase segments' subjects append to `erased_subjects/`
    BEFORE the publish, EXCLUDING any subject whose doc_id also
    appears in an add-subject sidecar being folded — such a
    subject's re-added content demonstrably survives the fold, so
    suppressing its future erase requests would make live content
    permanently unerasable. On roll-back the extra ledger rows are
    harmless (their erase segments are still pending, and pending
    segments already suppress repeats)."""
    import os
    import uuid

    from ..operators import artifact_lifecycle as alc
    from ..operators.dedup import require_local_index_path

    require_local_index_path("manifest_compact", path)
    alc.recover_torn_compaction(path, "base")
    _manifest_repair_orphan_sidecars(path)
    specs = [
        ("adds", "batch_id"),
        ("erases", "seg_id"),
        ("add_subjects", "batch_id"),
        ("erase_subjects", "seg_id"),
    ]
    segs = alc.list_segment_dirs(path, specs)
    fold_segs = [
        s for s in segs if s.startswith(("adds/", "erases/"))
    ]
    if not fold_segs:
        return {"n_segments": 0, "n_shards": None}
    marker = alc.begin_compaction(path, "base", segs, snapshot=snapshot)
    cols = ["shard", "n_docs", "n_tokens", "content_xor"]
    rel = _rp(spark, os.path.join(path, "base")).select(*cols)
    for s in fold_segs:
        rel = rel.unionByName(
            _rp(spark, os.path.join(path, s)).select(*cols)
        )
    merged = (
        rel.groupBy("shard")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.expr("bit_xor(content_xor)")
            .cast("long")
            .alias("content_xor"),
        )
        .filter(F.col("n_docs") > 0)
    )
    scratch = os.path.join(path, f".base_compact_{uuid.uuid4().hex}")
    merged.write.parquet(scratch)
    # suppression ledger BEFORE publish (see docstring)
    er_sub_segs = [s for s in segs if s.startswith("erase_subjects/")]
    add_sub_segs = [s for s in segs if s.startswith("add_subjects/")]
    if er_sub_segs:
        er_subj = _rp(spark, 
            *[os.path.join(path, s) for s in er_sub_segs]
        ).select("doc_id").distinct()
        if add_sub_segs:
            readded = _rp(spark, 
                *[os.path.join(path, s) for s in add_sub_segs]
            ).select("doc_id").distinct()
            er_subj = er_subj.join(
                F.broadcast(readded), "doc_id", "left_anti"
            )
        er_subj.write.mode("append").parquet(
            os.path.join(path, "erased_subjects")
        )
    alc.stamp_scratch_epoch(scratch, marker["to_epoch"])
    alc.publish_base(
        path,
        "base",
        scratch,
        snapshot_epoch=marker["to_epoch"] if snapshot else None,
    )
    alc.finish_compaction(path, marker)
    n_shards = int(_rp(spark, os.path.join(path, "base")).count())
    return {
        "n_segments": len(fold_segs),
        "n_shards": n_shards,
        "epoch": marker["to_epoch"],
    }
