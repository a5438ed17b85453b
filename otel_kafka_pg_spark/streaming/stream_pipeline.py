"""Structured Streaming re-expression of the reference's ingest loop.

The reference is a streaming consumer: a Kafka poll loop feeds a
mutex-guarded buffer that flushes to the sinks when it reaches BatchSize
rows or FlushInterval ms (reference: modules/kafka/consumer/consumer.go:
162-225 poll, :188-197 size trigger, :148-159 time trigger). The north rule
targets the BATCH re-expression (plans/pipeline.py), but the streaming
shape maps 1:1 onto Structured Streaming and is provided here for parity
of capability:

    Kafka poll loop          → ``readStream`` file/kafka source
    BatchSize/FlushInterval  → ``maxFilesPerTrigger`` / processing trigger
    buffer flush → save      → ``foreachBatch``: the SAME transform DAG
                               (build_routed) and sink fan-out
                               (write_sinks) as the batch pipeline,
                               appending per sink
    at-least-once + upsert   → the micro-batch commit protocol of
                               ``markers.py`` (checkpoint replay, generation
                               guard, signed per-(sink, batch) markers):
                               effectively-once at batch granularity
    batch-insert count logs  → per-batch sink_counts appends; totals are a
                               sum over micro-batches (count parity with the
                               batch pipeline is asserted in tests)

``source_format="kafka"`` selects the reference's exact topology — two
subscribed topics, earliest offsets, value-decode before the shared DAG
(consumer config parity mapped in ``_kafka_turn_stream``); the default
file source keeps tests hermetic (no broker or kafka connector jar exists
in this container, so the kafka branch is wired and config-checked but
only runnable on a cluster that ships spark-sql-kafka).

``streaming_severity_counts`` additionally demonstrates the event-time path
the reference lacks entirely (SURVEY §2.10: no watermarks, no event-time
windows in the reference): watermarked hourly tumbling-window severity
counts — late data beyond the watermark is dropped instead of corrupting
closed buckets.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.route import SINKS
from ..schemas import TRANSCRIPTS
from .markers import content_signature, drain, marker_committed, new_generation, write_marker


# The reference's consumer topology (modules/kafka/consumer/consumer.go):
# two topics (:116), earliest offset + range assignment (:91-95), group id
# from config. Structured Streaming equivalents, used verbatim by the
# kafka source branch below.
KAFKA_DEFAULTS = {
    "subscribe": "otlp-traces,otlp-logs",  # TracesTopic + LogsTopic (consumer.go:116)
    "startingOffsets": "earliest",  # auto.offset.reset=earliest (consumer.go:91)
    "failOnDataLoss": "false",  # at-least-once, replay-tolerant (markers dedup)
    # partition assignment/poll cadence are broker-side or trigger-side in
    # Structured Streaming: maxOffsetsPerTrigger is the BatchSize analog
    "maxOffsetsPerTrigger": "400",
}


def _kafka_turn_stream(spark: SparkSession, kafka_options: dict) -> DataFrame:
    """readStream.format("kafka") → transcript-turn frame: each record's
    value is a JSON-encoded turn (the wire analog of the reference's
    protobuf payload). Topic dispatch (consumer.go:242-271) is re-derived
    downstream by the router's content classification, so the kafka topic
    column is not projected; add ``F.col("topic")`` to the select if a
    topic-vs-classification cross-check is ever wired in. Requires the
    spark-sql-kafka connector jar."""
    opts = {**KAFKA_DEFAULTS, **kafka_options}
    raw = spark.readStream.format("kafka").options(**opts).load()
    turn = F.from_json(F.col("value").cast("string"), TRANSCRIPTS)
    return raw.select(turn.alias("t")).select("t.*")


def run_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    lookup: DataFrame | None = None,
    max_files_per_trigger: int = 4,
    source_format: str = "files",
    kafka_options: dict | None = None,
) -> None:
    """Drain the source through the full transform DAG in micro-batches;
    append per-sink parquet + counts.

    ``source_format="files"`` (default): parquet files under ``input_dir``,
    ``trigger(availableNow=True)`` — process everything currently present
    in ``max_files_per_trigger`` chunks (the BatchSize analog), then stop:
    the hermetic-test / backfill mode. ``source_format="kafka"``: the
    reference's topology (two topics, earliest offsets — see
    KAFKA_DEFAULTS); pass ``kafka_options`` with at least
    ``kafka.bootstrap.servers``. A production deployment drops
    ``availableNow`` for a continuous processing-time trigger.
    """
    from ..plans.pipeline import build_routed, write_sinks
    from ..sources.synth import service_lookup_pandas

    # build the (static) enrich lookup ONCE for the stream's lifetime —
    # inside process_batch it would be re-created and re-broadcast on
    # every micro-batch of a long-running stream
    if lookup is None:
        lookup = spark.createDataFrame(service_lookup_pandas())

    checkpoint = os.path.join(out_dir, "_checkpoint")
    new_generation(checkpoint, [os.path.join(out_dir, name) for name in SINKS])
    if source_format == "kafka":
        stream = _kafka_turn_stream(spark, kafka_options or {})
    else:
        stream = (
            spark.readStream.schema(TRANSCRIPTS)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir)
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # identical semantics to the batch pipeline: the micro-batch frame
        # is a plain DataFrame, so the whole DAG (parse, broadcast enrich,
        # route, attributes) and the sink fan-out apply unchanged. The file
        # source signs a batch by its input-file list; a source without
        # file lineage (kafka: inputFiles() is empty) by its natural keys.
        files = sorted(batch_df.inputFiles())
        if files:
            input_sig = hashlib.sha256("\n".join(files).encode()).hexdigest()
        else:
            input_sig = content_signature(batch_df, ("conv_id", "turn_idx"))
        # a sink that already committed this batch is skipped, so a replay
        # after a failure between sink writes appends only to the others
        pending = [s for s in SINKS if not marker_committed(os.path.join(out_dir, s), batch_id, input_sig)]

        def append(name: str, frame: DataFrame) -> None:
            sink_dir = os.path.join(out_dir, name)
            frame.write.mode("append").parquet(sink_dir)
            write_marker(sink_dir, batch_id, input_sig)

        if pending:
            write_sinks(spark, build_routed(spark, batch_df, lookup), pending, append)

    drain(stream, checkpoint, process_batch)


def total_sink_counts(spark: SparkSession, out_dir: str) -> DataFrame:
    """Re-aggregate the per-micro-batch count appends into totals — the
    frame to compare against the batch pipeline's sink_counts (count
    parity across the batch/streaming boundary)."""
    return (
        spark.read.parquet(os.path.join(out_dir, "sink_counts"))
        .groupBy("sink", "conv_id", "role", "tool", "time_bucket")
        .agg(F.sum("n").alias("n"))
    )


def streaming_severity_counts(
    spark: SparkSession,
    input_dir: str,
    watermark: str = "2 hours",
    window: str = "1 hour",
) -> DataFrame:
    """Watermarked event-time windowed severity counts over the turn stream.

    Returns the streaming DataFrame (caller starts it, e.g. to a memory
    sink with availableNow for tests). Late rows older than the watermark
    are dropped once their window closes — the event-time discipline the
    reference never had (it ignores event-time disorder entirely).
    """
    from ..functions.parse import parse_turns

    stream = spark.readStream.schema(TRANSCRIPTS).parquet(input_dir)
    parsed = parse_turns(stream)
    return (
        parsed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("bucket"), "severity")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("bucket.start").alias("bucket_start"), "severity", "cnt")
    )


def stream_deduped_turns(
    spark: SparkSession,
    input_dir: str,
    watermark_delay: str = "30 days",
    max_files_per_trigger: int = 2,
) -> DataFrame:
    """Streaming deduplication: at-least-once redelivery → exactly-once row
    identity, on the stream itself.

    The reference's consumer is at-least-once and leans on Postgres
    ``ON CONFLICT`` upserts to absorb redelivered records
    (modules/log/repository/repository.go:41-101); this is the
    sink-agnostic Structured Streaming equivalent: a deterministic
    content-derived row id (sha2 over the natural key (conv_id, turn_idx) —
    the same no-wall-clock recipe as the batch router's IDs) +
    ``dropDuplicatesWithinWatermark``, which keys the dedup state on the id
    and EXPIRES state older than the event-time watermark. State is thereby
    bounded by ``watermark_delay`` × arrival rate instead of growing with
    the full stream history — choose the delay ≥ the source's maximum
    redelivery lag (for Kafka: the uncommitted-offset window). A duplicate
    arriving after its original's state expired passes through this layer;
    a sink that must be exactly-once closes that window with a MERGE
    upsert (plans/sinks.py) keyed on THIS frame's ``row_id`` — note the
    batch router's sink IDs are a different scheme (they fold in the
    signal kind and timestamp, operators/route.py:_hash_id), so wire the
    downstream merge on ``row_id``, not on the router id.

    Returns the deduplicated streaming frame (caller starts the sink).
    """
    stream = (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    row_id = F.sha2(F.concat_ws("|", F.col("conv_id"), F.col("turn_idx").cast("string")), 256)
    return (
        stream.withColumn("row_id", row_id)
        .withWatermark("ts", watermark_delay)
        .dropDuplicatesWithinWatermark(["row_id"])
    )


def stream_trace_log_join(
    spark: SparkSession,
    input_dir: str,
    watermark: str = "2 hours",
    max_lag_seconds: int = 10,
) -> DataFrame:
    """Stream-STREAM event-time interval join: correlate every trace turn
    with the log turns of the same conversation that arrive within
    ``max_lag_seconds`` after it — the streaming twin of the batch join
    family (j1/j2 correlate logs to traces at rest; this correlates them
    in flight). The reference has no streaming join at all; its consumer
    correlates only at the sink via Postgres lookups after landing.

    Both sides derive from one source stream (parse → classify, the
    pipeline's own DAG) and carry their own event-time watermark; the join
    condition bounds log time to [trace_ts, trace_ts + lag], which is what
    lets Structured Streaming GC both sides' state — without the range
    bound the state store would grow with the whole stream. Inner join, so
    matches append as they form (no finalization wait).

    Shape at scale: state per side ≈ watermark-window × arrival rate,
    partitioned by the equality key (conv_id); the range condition prunes
    within each key's state. Returns (conv_id, trace_turn, log_turn,
    trace_ts, log_ts) as the streaming frame (caller starts the sink).
    """
    from ..functions.parse import parse_turns
    from ..operators.route import classify_signal

    stream = spark.readStream.schema(TRANSCRIPTS).parquet(input_dir)
    routed = classify_signal(parse_turns(stream))
    traces = (
        routed.filter(F.col("signal_type") == "trace")
        .select(
            F.col("conv_id").alias("t_conv"),
            F.col("turn_idx").alias("trace_turn"),
            F.col("ts").alias("trace_ts"),
        )
        .withWatermark("trace_ts", watermark)
    )
    logs = (
        routed.filter(F.col("signal_type") == "log")
        .select(
            F.col("conv_id").alias("l_conv"),
            F.col("turn_idx").alias("log_turn"),
            F.col("ts").alias("log_ts"),
        )
        .withWatermark("log_ts", watermark)
    )
    cond = (
        (F.col("t_conv") == F.col("l_conv"))
        & (F.col("log_ts") >= F.col("trace_ts"))
        & (F.col("log_ts") <= F.col("trace_ts") + F.expr(f"INTERVAL {int(max_lag_seconds)} SECONDS"))
    )
    return traces.join(logs, cond, "inner").select(
        F.col("t_conv").alias("conv_id"), "trace_turn", "log_turn", "trace_ts", "log_ts"
    )


def stream_upsert(
    spark: SparkSession,
    input_dir: str,
    dest: str,
    key: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    max_files_per_trigger: int = 2,
    schema=None,
) -> None:
    """Streaming UPSERT sink — the reference's literal topology end-to-end:
    the consumer drains micro-batches and applies each as an ON CONFLICT DO
    UPDATE batch into a keyed table (consumer.go poll loop →
    log/repository/repository.go:71-78 upsert), where run_stream covers the
    append-sink side.

    Per micro-batch: (1) collapse the batch to its latest row per ``key``
    (row_number over ``order_cols`` DESC — one shuffle on the merge key);
    (2) MERGE into the durable table with the matched-row update
    CONDITIONAL on recency (``WHEN MATCHED AND s.ord >= t.ord THEN
    UPDATE``, ord = the ``order_cols`` struct, lexicographic). The
    conditional merge is what makes this safe without run_stream's commit
    markers: applying a batch twice, or applying batches out of order
    (a replayed file, a late partition), can never regress a key to an
    older value — per-key state is argmax over (order_cols), which is
    idempotent and commutative, so the final table equals the BATCH
    latest-per-key result for ANY interleaving. State lives in the
    destination table itself, not the state store.

    The rewrite uses retention_delete's write-tmp → two-rename swap with
    entry-time recover_interrupted_swap, so a crash mid-swap is
    restartable. At scale the swap becomes a real Iceberg/Delta MERGE INTO
    (plans/sinks.py:merge_upsert_iceberg) — metadata-swap instead of
    directory rename, same conditional-update SQL.
    """
    from pyspark.sql import Window

    from ..plans.sinks import _presence_merge, atomic_swap, recover_interrupted_swap

    if schema is None:
        schema = spark.read.parquet(input_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        import shutil

        if batch_df.isEmpty():
            return
        w = Window.partitionBy(key).orderBy(*[F.desc(c) for c in order_cols])
        upd = batch_df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
        recover_interrupted_swap(dest)
        if not os.path.exists(dest):
            upd.write.mode("overwrite").parquet(dest)
            return
        base = spark.read.parquet(dest)
        uord = F.struct(*[F.col(f"u.{c}") for c in order_cols])
        bord = F.struct(*[F.col(f"b.{c}") for c in order_cols])
        # a BRAND-NEW key always takes the update row — even with a NULL
        # order column — matching what the first-batch write path would
        # have persisted for the same row (without the presence flag, a
        # new key with NULL order_cols[0] would insert an all-NULL payload)
        newer = F.col("b._present").isNull() | (
            F.col(f"u.{order_cols[0]}").isNotNull()
            & (F.col(f"b.{order_cols[0]}").isNull() | (uord >= bord))
        )
        merged = _presence_merge(base, upd, key, [c for c in base.columns if c != key], newer)
        tmp = dest.rstrip("/") + ".rewrite.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        merged.write.mode("overwrite").parquet(tmp)  # materialized before any rename
        atomic_swap(tmp, dest)

    drain(stream, dest.rstrip("/") + "_checkpoint", apply_batch)


def streaming_hourly_type_counts(
    spark: SparkSession,
    input_dir: str,
    schema,
    watermark: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming half of the spike-alerting pair: tumbling 1-hour
    event-time windows keyed by event_type — byte-identical buckets to
    the batch ``date_trunc('hour', ts)`` aggregation (epoch-anchored
    windows), so ``operators.aggregate.spike_score`` applied to a
    complete-mode snapshot equals the batch ``spike_hours`` exactly
    (oracled as st7). Pass ``watermark`` for the production update-mode
    deployment (state evicted as event time passes; late rows dropped);
    the verification entry runs complete mode, where the snapshot is the
    full history regardless."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    if watermark is not None:
        stream = stream.withWatermark("ts", watermark)
    return (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(F.col("w.start").alias("hour"), "event_type", "cnt")
    )
