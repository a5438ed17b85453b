"""Structured Streaming parity: micro-batched ingest produces exactly the
batch pipeline's routed rows and aggregate counts; watermarked windowed
counts match the batch groupBy on the same input."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from otel_kafka_pg_spark.plans.pipeline import run_pipeline
from otel_kafka_pg_spark.streaming.stream_pipeline import (
    run_stream,
    streaming_severity_counts,
    total_sink_counts,
)

@pytest.fixture(scope="module")
def stream_input(spark, transcripts_path, tmp_path_factory):
    # split the fixture transcripts into several files so availableNow with
    # maxFilesPerTrigger yields MULTIPLE micro-batches (the BatchSize analog)
    d = str(tmp_path_factory.mktemp("stream_in"))
    spark.read.parquet(transcripts_path).repartition(8).write.mode("overwrite").parquet(d)
    return d

def test_stream_matches_batch_sinks(spark, stream_input, tmp_path_factory):
    stream_out = str(tmp_path_factory.mktemp("stream_out"))
    batch_out = str(tmp_path_factory.mktemp("batch_out"))

    run_stream(spark, stream_input, stream_out, max_files_per_trigger=3)
    run_pipeline(spark, stream_input, batch_out, resume=False)

    # routed-row-set equality per sink across the batch/streaming boundary
    for sink in ("traces", "logs", "metrics"):
        s = spark.read.parquet(os.path.join(stream_out, sink))
        b = spark.read.parquet(os.path.join(batch_out, sink))
        assert s.count() == b.count(), sink
        assert s.exceptAll(b).count() == 0, sink
        assert b.exceptAll(s).count() == 0, sink

    # count parity: micro-batch count appends sum to the batch counts
    s_counts = total_sink_counts(spark, stream_out)
    b_counts = spark.read.parquet(os.path.join(batch_out, "sink_counts"))
    assert s_counts.exceptAll(b_counts).count() == 0
    assert b_counts.exceptAll(s_counts).count() == 0

def test_stream_ran_in_multiple_microbatches(spark, stream_input, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stream_mb"))
    run_stream(spark, stream_input, out, max_files_per_trigger=2)
    # 8 input files / 2 per trigger → ≥4 committed micro-batches
    commits = [f for f in os.listdir(os.path.join(out, "_checkpoint", "commits")) if not f.startswith(".")]
    assert len(commits) >= 4

def test_stream_replay_is_idempotent_via_batch_markers(spark, stream_input, tmp_path_factory):
    """A restart that replays already-committed micro-batches must not
    duplicate sink rows. Worst case — wipe the checkpoint entirely and
    drain again: the new-generation startup wipe clears the sinks and the
    deterministic reprocess rebuilds them, so all sink counts must be
    unchanged (marker-skip with a SURVIVING checkpoint is exercised by
    test_stream_partial_failure_skips_committed_sink)."""
    import shutil

    out = str(tmp_path_factory.mktemp("stream_replay"))
    run_stream(spark, stream_input, out, max_files_per_trigger=2)
    before = {s: spark.read.parquet(os.path.join(out, s)).count() for s in ("traces", "logs", "metrics", "sink_counts")}

    shutil.rmtree(os.path.join(out, "_checkpoint"))
    run_stream(spark, stream_input, out, max_files_per_trigger=2)
    after = {s: spark.read.parquet(os.path.join(out, s)).count() for s in ("traces", "logs", "metrics", "sink_counts")}
    assert after == before


def test_stream_partial_failure_skips_committed_sink(spark, stream_input, tmp_path_factory):
    """If a run died after committing (sink, batch) pairs, the restart must
    skip exactly those: pre-marking logs batch 0 as committed makes the
    drain skip that one append while every other sink stays complete."""
    ref = str(tmp_path_factory.mktemp("stream_partial_ref"))
    run_stream(spark, stream_input, ref, max_files_per_trigger=2)

    # plant the REAL marker a dying run would have left (same input dir +
    # trigger settings → batch 0 has the same files, hence the same
    # signature as the reference run's marker) — and the checkpoint dir a
    # real crash leaves too (the offset WAL precedes foreachBatch), so the
    # new-generation startup wipe correctly stays out of the way
    out = str(tmp_path_factory.mktemp("stream_partial"))
    os.makedirs(os.path.join(out, "_checkpoint"))
    marker_dir = os.path.join(out, "logs", "_batches")
    os.makedirs(marker_dir)
    with open(os.path.join(ref, "logs", "_batches", "0.done")) as fh:
        sig = fh.read()
    with open(os.path.join(marker_dir, "0.done"), "w") as fh:
        fh.write(sig)
    run_stream(spark, stream_input, out, max_files_per_trigger=2)

    n_logs, n_logs_ref = (spark.read.parquet(os.path.join(d, "logs")).count() for d in (out, ref))
    assert n_logs < n_logs_ref  # batch 0's logs append was (correctly) skipped
    for sink in ("traces", "metrics"):
        assert (
            spark.read.parquet(os.path.join(out, sink)).count()
            == spark.read.parquet(os.path.join(ref, sink)).count()
        ), sink


def test_stream_pooled_sink_failure_resumes_without_duplicates(spark, stream_input, tmp_path_factory, monkeypatch):
    """Concurrent sink appends under failure: the metrics append (written
    from the pool, beside logs and sink_counts) raises in micro-batch 0, so
    run_stream raises. A rerun with the checkpoint kept replays batch 0,
    skips the sinks whose batch-0 markers were committed, and leaves every
    sink with exactly a clean run's rows."""
    from otel_kafka_pg_spark.operators.route import SINKS
    from otel_kafka_pg_spark.streaming.markers import marker_file

    ref = str(tmp_path_factory.mktemp("stream_pool_ref"))
    run_stream(spark, stream_input, ref, max_files_per_trigger=2)

    out = str(tmp_path_factory.mktemp("stream_pool_fail"))
    writer_cls = type(spark.range(1).write)
    real_parquet, appends, failed = writer_cls.parquet, [], []

    def parquet(self, path, *a, **kw):
        sink = os.path.relpath(path, out)
        if sink == "metrics" and not failed:
            failed.append(sink)
            raise RuntimeError("injected append failure")
        appends.append(sink)
        return real_parquet(self, path, *a, **kw)

    monkeypatch.setattr(writer_cls, "parquet", parquet)
    with pytest.raises(Exception, match="injected append failure"):
        run_stream(spark, stream_input, out, max_files_per_trigger=2)
    committed = {s for s in SINKS if os.path.exists(marker_file(os.path.join(out, s), 0))}
    assert committed == {"traces", "logs", "sink_counts"}

    appends.clear()
    run_stream(spark, stream_input, out, max_files_per_trigger=2)
    n_batches = len([f for f in os.listdir(os.path.join(out, "_checkpoint", "commits")) if not f.startswith(".")])
    assert n_batches >= 2
    assert appends.count("metrics") == n_batches
    for sink in committed:  # batch 0 skipped by its marker
        assert appends.count(sink) == n_batches - 1, sink
    for sink in SINKS:
        s = spark.read.parquet(os.path.join(out, sink))
        r = spark.read.parquet(os.path.join(ref, sink))
        assert s.count() == r.count(), sink
        assert s.exceptAll(r).count() == 0, sink
        assert r.exceptAll(s).count() == 0, sink


def test_stream_stale_marker_with_different_inputs_is_reprocessed(spark, stream_input, tmp_path_factory):
    """ADVICE r2: markers are signed with the batch's source-offset
    signature (input-file list). A leftover marker whose batch_id collides
    but whose inputs differ — e.g. checkpoint wiped/relocated while sink
    markers survived, then NEW data arrives as batch 0 — must NOT cause a
    silent skip. The checkpoint dir is planted (relocation = the new
    checkpoint exists elsewhere; an absent one triggers the startup
    generation wipe instead) so the signature-mismatch path is the one
    under test."""
    out = str(tmp_path_factory.mktemp("stream_stale"))
    os.makedirs(os.path.join(out, "_checkpoint"))
    marker_dir = os.path.join(out, "logs", "_batches")
    os.makedirs(marker_dir)
    with open(os.path.join(marker_dir, "0.done"), "w") as fh:
        fh.write("sig-of-some-other-run")  # same batch id, different inputs
    run_stream(spark, stream_input, out, max_files_per_trigger=2)

    ref = str(tmp_path_factory.mktemp("stream_stale_ref"))
    run_stream(spark, stream_input, ref, max_files_per_trigger=2)
    for sink in ("traces", "logs", "metrics"):
        assert (
            spark.read.parquet(os.path.join(out, sink)).count()
            == spark.read.parquet(os.path.join(ref, sink)).count()
        ), sink


def test_streaming_windowed_severity_counts(spark, stream_input, tmp_path_factory):
    q = (
        streaming_severity_counts(spark, stream_input)
        .writeStream.format("memory")
        .queryName("sev_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["bucket_start"], r["severity"]): r["cnt"]
        for r in spark.sql("SELECT * FROM sev_counts").collect()
    }

    from otel_kafka_pg_spark.functions.parse import parse_turns

    exp = {
        (r["bucket_start"], r["severity"]): r["cnt"]
        for r in (
            parse_turns(spark.read.parquet(stream_input))
            .groupBy(F.window("ts", "1 hour").alias("bucket"), "severity")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("bucket.start").alias("bucket_start"), "severity", "cnt")
        ).collect()
    }
    assert got == exp

def test_stream_incremental_checkpoint_resume(spark, transcripts_path, tmp_path_factory):
    """Checkpoint semantics: a second drain with the same checkpoint
    processes ONLY files added since the first drain; the final sink state
    equals one batch run over everything (no dropped or doubled rows)."""

    src = str(tmp_path_factory.mktemp("inc_src"))
    out = str(tmp_path_factory.mktemp("inc_out"))
    full = spark.read.parquet(transcripts_path)
    half1 = full.filter(F.crc32(F.col("conv_id")) % 2 == 0)
    half2 = full.filter(F.crc32(F.col("conv_id")) % 2 == 1)

    half1.repartition(3).write.mode("overwrite").parquet(src)
    run_stream(spark, src, out, max_files_per_trigger=2)
    n_after_first = spark.read.parquet(os.path.join(out, "logs")).count()

    # drop the new files in WITHOUT clearing the checkpoint
    half2.repartition(3).write.mode("append").parquet(src)
    run_stream(spark, src, out, max_files_per_trigger=2)

    batch_out = str(tmp_path_factory.mktemp("inc_batch"))
    run_pipeline(spark, src, batch_out, resume=False)
    for sink in ("traces", "logs", "metrics"):
        s = spark.read.parquet(os.path.join(out, sink))
        b = spark.read.parquet(os.path.join(batch_out, sink))
        assert s.exceptAll(b).count() == 0, sink
        assert b.exceptAll(s).count() == 0, sink
    assert spark.read.parquet(os.path.join(out, "logs")).count() > n_after_first


def test_stateful_conversation_state_matches_batch(spark, stream_input, tmp_path_factory):
    """applyInPandasWithState across MULTIPLE micro-batches: the final
    per-conversation state must equal the batch groupBy over the same
    input (totals are order-insensitive, so cross-batch accumulation is
    exactly testable)."""
    import uuid

    from otel_kafka_pg_spark.functions.parse import parse_turns
    from otel_kafka_pg_spark.operators.route import classify_signal
    from otel_kafka_pg_spark.streaming.stateful import (
        conversation_state_stream,
        final_conversation_state,
    )

    name = f"state_{uuid.uuid4().hex[:8]}"
    q = (
        conversation_state_stream(spark, stream_input, max_files_per_trigger=2)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    updates = spark.sql(f"SELECT * FROM {name}")
    # 8 input files / 2 per trigger → conversations split across batches
    # emit MULTIPLE updates; at least some state must have crossed batches
    assert updates.count() > updates.select("conv_id").distinct().count()

    got = final_conversation_state(updates)
    batch = (
        classify_signal(parse_turns(spark.read.parquet(stream_input)))
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum((F.col("signal_type") == "trace").cast("long")).alias("n_traces"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )
    assert got.count() == batch.count()
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def _final_state_from_dir(spark, dest):
    from otel_kafka_pg_spark.streaming.stateful import (
        final_conversation_state,
        read_state_updates,
    )

    return final_conversation_state(read_state_updates(spark, dest))


def _batch_conv_state(spark, stream_input):
    from otel_kafka_pg_spark.functions.parse import parse_turns
    from otel_kafka_pg_spark.operators.route import classify_signal

    return (
        classify_signal(parse_turns(spark.read.parquet(stream_input)))
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum((F.col("signal_type") == "trace").cast("long")).alias("n_traces"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )


def test_stateful_stream_durable_sink_matches_batch(spark, stream_input, tmp_path_factory):
    """The durable stateful path end-to-end: foreachBatch-appended update
    rows, collapsed to final state, equal the batch groupBy."""
    from otel_kafka_pg_spark.streaming.stateful import run_conversation_state_stream

    out = str(tmp_path_factory.mktemp("state_durable"))
    dest = run_conversation_state_stream(spark, stream_input, out)
    got = _final_state_from_dir(spark, dest)
    batch = _batch_conv_state(spark, stream_input)
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0
    # the marker directory carries one signed marker per micro-batch
    markers = os.listdir(os.path.join(dest, "_batches"))
    assert len(markers) >= 2  # multiple micro-batches actually ran
    for m in markers:
        with open(os.path.join(dest, "_batches", m)) as fh:
            assert len(fh.read().strip()) == 64  # sha256 signature, not empty


def test_stateful_stream_kill_and_resume_is_idempotent(spark, stream_input, tmp_path_factory):
    """Worst-case kill: the checkpoint is lost and the stream drains again
    from scratch. The startup generation guard clears conv_state (no
    marker is consulted), and the deterministic reprocess must rebuild
    the same number of update rows and the batch final state. Replay under
    a surviving checkpoint is exercised by
    test_stateful_stream_crash_between_data_and_marker_no_duplicates."""
    import shutil

    from otel_kafka_pg_spark.streaming.stateful import run_conversation_state_stream

    out = str(tmp_path_factory.mktemp("state_replay"))
    dest = run_conversation_state_stream(spark, stream_input, out)
    before = spark.read.parquet(dest).count()

    shutil.rmtree(os.path.join(out, "_checkpoint"))
    run_conversation_state_stream(spark, stream_input, out)
    assert spark.read.parquet(dest).count() == before
    got = _final_state_from_dir(spark, dest)
    batch = _batch_conv_state(spark, stream_input)
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_stateful_stream_crash_between_data_and_marker_no_duplicates(
    spark, stream_input, tmp_path_factory
):
    """The exact window a flat append leaves open: the batch's data
    committed, then the process died BEFORE its marker write (and so
    before Spark's commit-log entry). Simulated with the checkpoint kept:
    the last ``_checkpoint/commits/<n>`` entry is dropped together with
    batch n's marker, while its batch=<n> data dir stays. The restart
    replays batch n under the same id, finds no marker, and must overwrite
    its own directory — row set identical, no duplicate update rows."""
    from otel_kafka_pg_spark.streaming.markers import marker_file
    from otel_kafka_pg_spark.streaming.stateful import (
        read_state_updates,
        run_conversation_state_stream,
    )

    out = str(tmp_path_factory.mktemp("state_crash_window"))
    dest = run_conversation_state_stream(spark, stream_input, out)
    # materialize (frames are lazy over files the replay rewrites)
    before_rows = sorted(map(tuple, read_state_updates(spark, dest).collect()))
    commits = os.path.join(out, "_checkpoint", "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    assert last >= 1  # several micro-batches ran
    for f in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    os.remove(marker_file(dest, last))  # crashed pre-marker
    run_conversation_state_stream(spark, stream_input, out)
    # batch n really replayed under its own id and re-committed
    assert os.path.exists(os.path.join(commits, str(last)))
    assert os.path.exists(marker_file(dest, last))
    after = read_state_updates(spark, dest)
    assert sorted(map(tuple, after.collect())) == before_rows
    got = _final_state_from_dir(spark, dest)
    batch = _batch_conv_state(spark, stream_input)
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_stateful_stream_batch0_mismatch_clears_previous_generation(spark, stream_input, tmp_path_factory):
    """_append_once's batch-0 rule: with the checkpoint dir present (a
    relocated checkpoint, so the startup guard stays out of the way), a
    batch 0 whose signature does not match marker 0 starts a new
    generation — every stale batch=<id> dir and marker must go before the
    write, or the stale rows double-count in read_state_updates."""
    from otel_kafka_pg_spark.streaming.markers import marker_file, write_marker
    from otel_kafka_pg_spark.streaming.stateful import (
        CONV_STATE_OUTPUT,
        run_conversation_state_stream,
    )

    out = str(tmp_path_factory.mktemp("state_batch0"))
    os.makedirs(os.path.join(out, "_checkpoint"))
    dest = os.path.join(out, "conv_state")
    stale = spark.createDataFrame([("stale-conv", 1, 0, None, None)], CONV_STATE_OUTPUT)
    for b in (0, 50):
        stale.write.parquet(os.path.join(dest, f"batch={b}"))
        write_marker(dest, b, "sig-of-some-other-run")
    run_conversation_state_stream(spark, stream_input, out)
    assert "batch=50" not in os.listdir(dest)
    assert not os.path.exists(marker_file(dest, 50))
    got = _final_state_from_dir(spark, dest)
    batch = _batch_conv_state(spark, stream_input)
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_stateful_stream_stale_marker_different_content_reprocessed(spark, stream_input, tmp_path_factory):
    """A leftover marker whose batch id collides but whose signature doesn't
    match the replayed batch's content must NOT cause a silent skip (the
    stale-marker case of the st1 path, carried over). The checkpoint dir is
    planted too (a real crash leaves it — the WAL precedes any marker), so
    this exercises the _append_once signature-mismatch path rather than the
    startup generation wipe."""
    from otel_kafka_pg_spark.streaming.stateful import run_conversation_state_stream

    out = str(tmp_path_factory.mktemp("state_stale"))
    os.makedirs(os.path.join(out, "_checkpoint"))
    marker_dir = os.path.join(out, "conv_state", "_batches")
    os.makedirs(marker_dir)
    with open(os.path.join(marker_dir, "0.done"), "w") as fh:
        fh.write("sig-of-some-other-run")
    dest = run_conversation_state_stream(spark, stream_input, out)
    got = _final_state_from_dir(spark, dest)
    batch = _batch_conv_state(spark, stream_input)
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_stream_dedup_drops_exactly_the_redelivered_rows(spark, transcripts_path, tmp_path_factory):
    """At-least-once redelivery drill (st4): a source dir holding the base
    turns PLUS a byte-identical redelivered subset must stream-dedup back to
    exactly the base row set — and the control (same drain WITHOUT the
    dedup) must show the duplicates were really there."""
    from otel_kafka_pg_spark.streaming.stream_pipeline import stream_deduped_turns

    src = str(tmp_path_factory.mktemp("dedup_src"))
    out = str(tmp_path_factory.mktemp("dedup_out"))
    base = spark.read.parquet(transcripts_path)
    n_base = base.count()
    base.repartition(4).write.mode("append").parquet(src)
    redelivered = base.filter(F.col("turn_idx") % 5 == 0)
    n_dup = redelivered.count()
    assert n_dup > 0
    redelivered.repartition(2).write.mode("append").parquet(src)

    q = (
        stream_deduped_turns(spark, src)
        .writeStream.format("parquet")
        .option("path", os.path.join(out, "rows"))
        .option("checkpointLocation", os.path.join(out, "_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(os.path.join(out, "rows"))
    assert got.count() == n_base  # every duplicate dropped, nothing legitimate lost
    # exact row-set equality with the base turns (modulo the added row_id)
    assert got.drop("row_id").exceptAll(base).count() == 0
    assert base.exceptAll(got.drop("row_id")).count() == 0
    # control: the raw source really contains the duplicates
    assert spark.read.parquet(src).count() == n_base + n_dup


def test_stream_stream_join_interval_semantics(spark, tmp_path_factory):
    """Planted pairs: a log within the lag window joins its conversation's
    trace; one past the window doesn't; another conversation's log never
    does; multi-batch arrival (trace and log in DIFFERENT micro-batches)
    still joins — the state store carries the trace across triggers."""
    import datetime as dt

    from otel_kafka_pg_spark.schemas import TRANSCRIPTS
    from otel_kafka_pg_spark.streaming.stream_pipeline import stream_trace_log_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    trace_txt = "trace=" + "a" * 32 + " span=" + "b" * 16 + " ok"
    rows1 = [  # first file: conv A's trace + conv B's log
        ("A", 0, "assistant", trace_txt, None, t0),
        ("B", 1, "user", "plain log line", None, t0 + dt.timedelta(seconds=5)),
    ]
    rows2 = [  # second file: conv A's logs, one in-window, one out
        ("A", 1, "user", "in window", None, t0 + dt.timedelta(seconds=5)),
        ("A", 2, "user", "out of window", None, t0 + dt.timedelta(seconds=25)),
    ]
    src = str(tmp_path_factory.mktemp("st5_src"))
    spark.createDataFrame(rows1, TRANSCRIPTS).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows2, TRANSCRIPTS).coalesce(1).write.mode("append").parquet(src)
    joined = stream_trace_log_join(spark, src, max_lag_seconds=10)
    # maxFilesPerTrigger is not set on this reader, but availableNow still
    # planned both files; force multi-batch via option on a second reader is
    # covered by st4 — here the semantics are what's pinned.
    q = (
        joined.writeStream.format("memory")
        .queryName("st5_test_pairs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [
        (r["conv_id"], r["trace_turn"], r["log_turn"])
        for r in spark.sql("SELECT * FROM st5_test_pairs").collect()
    ]
    assert got == [("A", 0, 1)]


def test_session_window_stream_matches_batch(spark, sf_dir, tmp_path_factory):
    """The w4 registry entry's expression is streaming-capable verbatim:
    the SAME session_window groupBy over readStream (complete mode — a
    bounded availableNow source never advances the watermark past its own
    tail, so append would hold back the final sessions) emits exactly the
    batch result."""
    import os
    import shutil

    from pyspark.sql import functions as F

    src = os.path.join(sf_dir, "events.parquet")
    stream_dir = str(tmp_path_factory.mktemp("w4_events"))  # file source wants a dir
    shutil.copy(src, os.path.join(stream_dir, "events.parquet"))
    batch = spark.read.parquet(src)
    sw = F.session_window(F.col("ts"), "30 minutes")

    def sessions(df):
        return (
            df.groupBy("user_id", sw)
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "n_events",
            )
        )

    stream = spark.readStream.schema(batch.schema).parquet(stream_dir)
    q = (
        sessions(stream)
        .writeStream.format("memory")
        .queryName("w4_stream_sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.sql("SELECT * FROM w4_stream_sessions").collect()}
    want = {tuple(r) for r in sessions(batch).collect()}
    assert got == want and len(want) > 0


def test_session_window_gap_boundary_is_half_open(spark):
    """The merge boundary is CLOSED: an event landing EXACTLY gap after the
    previous one still merges (split only on strictly-greater gaps) — the
    w4 oracle encodes the same strict-> convention. Pinned with planted
    rows because the sf events tables contain no exact-1800s gap."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    df = spark.createDataFrame(
        [
            (1, t0), (1, t0 + dt.timedelta(seconds=1801)),   # past the gap -> split
            (2, t0), (2, t0 + dt.timedelta(seconds=1800)),   # exactly gap -> merge
        ],
        "user_id long, ts timestamp_ntz",
    )
    out = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .count()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    got = {r["user_id"]: r["n_sessions"] for r in out.collect()}
    assert got == {1: 2, 2: 1}


def test_stream_upsert_matches_batch_and_replay_is_idempotent(spark, sf_dir, tmp_path_factory):
    """Multi-micro-batch streaming upsert == batch latest-per-key; wiping
    the checkpoint and re-draining the same source (full replay) leaves the
    table byte-identical — idempotent by the merge algebra (per-key argmax),
    with NO commit markers involved."""
    import os
    import shutil

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from otel_kafka_pg_spark.streaming.stream_pipeline import stream_upsert

    root = str(tmp_path_factory.mktemp("st6"))
    src, dest = os.path.join(root, "src"), os.path.join(root, "state")
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "user_id", "event_id", "event_type", "ts"
    )
    ev.repartition(8).write.parquet(src)  # 8 files, 2/trigger -> >=4 micro-batches
    stream_upsert(spark, src, dest, key="user_id", order_cols=("ts", "event_id"))

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    want = {
        tuple(r)
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "event_id", "event_type")
        .collect()
    }
    got = {tuple(r) for r in spark.read.parquet(dest).select("user_id", "event_id", "event_type").collect()}
    assert got == want and len(want) > 0

    shutil.rmtree(dest.rstrip("/") + "_checkpoint")  # full replay from scratch
    stream_upsert(spark, src, dest, key="user_id", order_cols=("ts", "event_id"))
    replayed = {
        tuple(r) for r in spark.read.parquet(dest).select("user_id", "event_id", "event_type").collect()
    }
    assert replayed == want


def test_stream_upsert_late_older_batch_never_regresses(spark, tmp_path_factory):
    """A file arriving AFTER a newer one (late partition / replayed old
    data) must not regress any key: the MERGE's matched-update is
    conditional on recency, per-key state is argmax(ts, event_id)."""
    import datetime as dt
    import os

    from otel_kafka_pg_spark.streaming.stream_pipeline import stream_upsert

    root = str(tmp_path_factory.mktemp("st6_ooo"))
    src, dest = os.path.join(root, "src"), os.path.join(root, "state")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "user_id long, event_id long, event_type string, ts timestamp_ntz"
    newer = spark.createDataFrame([(1, 100, "click", t0 + dt.timedelta(hours=1))], schema)
    older = spark.createDataFrame([(1, 50, "view", t0), (2, 51, "view", t0)], schema)

    newer.coalesce(1).write.mode("append").parquet(src)
    stream_upsert(spark, src, dest, key="user_id", schema=newer.schema)
    older.coalesce(1).write.mode("append").parquet(src)  # late, older data
    stream_upsert(spark, src, dest, key="user_id", schema=newer.schema)  # drains ONLY the new file

    got = {tuple(r) for r in spark.read.parquet(dest).select("user_id", "event_id", "event_type").collect()}
    assert got == {(1, 100, "click"), (2, 51, "view")}  # user 1 kept the newer row


def test_stream_upsert_new_key_with_null_order_col_keeps_payload(spark, tmp_path_factory):
    """A BRAND-NEW key whose order column is NULL must insert the row's
    actual payload — the same row arriving in the very first batch would
    have been written verbatim, so later batches must not degrade it to an
    all-NULL row (the presence-flag fix: without it, take_u was false for
    a NULL ts and every value column resolved to the absent base's NULL)."""
    import datetime as dt
    import os

    from otel_kafka_pg_spark.streaming.stream_pipeline import stream_upsert

    root = str(tmp_path_factory.mktemp("st6_nullts"))
    src, dest = os.path.join(root, "src"), os.path.join(root, "state")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "user_id long, event_id long, event_type string, ts timestamp_ntz"
    first = spark.createDataFrame([(1, 100, "click", t0)], schema)
    first.coalesce(1).write.mode("append").parquet(src)
    stream_upsert(spark, src, dest, key="user_id", schema=first.schema)
    # second batch: new key 2 with NULL ts, plus a NULL-ts update to key 1
    second = spark.createDataFrame([(2, 51, "view", None), (1, 99, "view", None)], schema)
    second.coalesce(1).write.mode("append").parquet(src)
    stream_upsert(spark, src, dest, key="user_id", schema=first.schema)
    got = {r["user_id"]: (r["event_id"], r["event_type"]) for r in spark.read.parquet(dest).collect()}
    assert got[2] == (51, "view")  # new key keeps its real payload
    assert got[1] == (100, "click")  # NULL ts never beats an existing row


def test_st6_registry_entry_cleans_its_temp_root(spark):
    """Round-4 advice: st6_stream_upsert leaked its mkdtemp root (the lazy
    parquet read kept state+checkpoint alive; bench runs the entry twice
    per sweep). The entry now materializes the bounded latest-per-user
    frame and rmtree's the whole root before returning."""
    import glob
    import tempfile

    from otel_kafka_pg_spark.queries import all_queries

    before = set(glob.glob(os.path.join(tempfile.gettempdir(), "st6_*")))
    df = all_queries()["st6_stream_upsert"](spark, "/root/testdata/sf0.001")
    after = set(glob.glob(os.path.join(tempfile.gettempdir(), "st6_*")))
    assert after - before == set(), "st6 left temp dirs behind"
    # the materialized frame is still fully consumable post-cleanup
    n = df.count()
    assert n > 0
    assert df.select("user_id").distinct().count() == n  # latest-per-key


def test_stateful_stream_new_generation_wipes_stale_batches(spark, stream_input, tmp_path_factory):
    """Regression (r5 review): a checkpoint wipe + a DIFFERENT (smaller)
    input restarts batch ids at 0 — batch 0's signature mismatch marks a
    new stream generation, and every surviving batch=<id> dir from the
    previous run must be cleared, or read_state_updates double-counts the
    old generation's higher-numbered batches beside the new output."""
    import shutil

    from otel_kafka_pg_spark.streaming.stateful import (
        read_state_updates,
        run_conversation_state_stream,
    )

    out = str(tmp_path_factory.mktemp("state_generation"))
    dest = run_conversation_state_stream(spark, stream_input, out, max_files_per_trigger=2)
    old_batches = [d for d in os.listdir(dest) if d.startswith("batch=")]
    assert len(old_batches) >= 3  # needs stale higher-numbered dirs to matter
    # new generation: smaller input (one file → one batch), fresh checkpoint
    small_in = str(tmp_path_factory.mktemp("state_gen_small"))
    spark.read.parquet(stream_input).limit(40).coalesce(1).write.mode("overwrite").parquet(small_in)
    shutil.rmtree(os.path.join(out, "_checkpoint"))
    run_conversation_state_stream(spark, small_in, out, max_files_per_trigger=2)
    new_batches = sorted(d for d in os.listdir(dest) if d.startswith("batch="))
    assert "batch=0" in new_batches and len(new_batches) < len(old_batches)
    got = _final_state_from_dir(spark, dest)
    batch = _batch_conv_state(spark, small_in)
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_stream_new_generation_replaces_sinks_not_appends(spark, stream_input, tmp_path_factory):
    """Regression (r5 review): a checkpoint wipe + a DIFFERENT input used
    to append the new generation's rows beside the old one's — sink_counts
    rows are aggregates with no dedup identity, so totals double-counted
    silently. The startup wipe must leave exactly the new input's rows."""
    import shutil

    out = str(tmp_path_factory.mktemp("stream_gen"))
    run_stream(spark, stream_input, out, max_files_per_trigger=2)

    small_in = str(tmp_path_factory.mktemp("stream_gen_small"))
    spark.read.parquet(stream_input).limit(60).coalesce(1).write.mode("overwrite").parquet(small_in)
    shutil.rmtree(os.path.join(out, "_checkpoint"))
    run_stream(spark, small_in, out, max_files_per_trigger=2)

    batch_out = str(tmp_path_factory.mktemp("stream_gen_batch"))
    run_pipeline(spark, small_in, batch_out, resume=False)
    for sink in ("traces", "logs", "metrics"):
        s = spark.read.parquet(os.path.join(out, sink))
        b = spark.read.parquet(os.path.join(batch_out, sink))
        assert s.count() == b.count(), sink
        assert s.exceptAll(b).count() == 0, sink
    s_counts = total_sink_counts(spark, out)
    b_counts = spark.read.parquet(os.path.join(batch_out, "sink_counts"))
    assert s_counts.exceptAll(b_counts).count() == 0
    assert b_counts.exceptAll(s_counts).count() == 0
