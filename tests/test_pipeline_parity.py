"""Pipeline parity gates (the BASELINE.json correctness contract):

1. routed-row-set equality vs the independent pandas reference
   (exceptAll both directions == 0, per sink);
2. per-sink aggregate-count parity;
3. determinism: two runs → identical content hashes;
4. idempotent resume: fail after the first sink, resume, final state
   identical to an uninterrupted run.
"""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
import pytest

from otel_kafka_pg_spark.operators.route import SINKS
from otel_kafka_pg_spark.plans import pipeline
from otel_kafka_pg_spark.plans.pipeline import run_pipeline
from otel_kafka_pg_spark.schemas import LOGS_SINK, METRICS_SINK, SINK_COUNTS, TRACES_SINK
from otel_kafka_pg_spark.sources.synth import service_lookup_pandas

from reference_impl import route_reference

SINK_SCHEMAS = {"traces": TRACES_SINK, "logs": LOGS_SINK, "metrics": METRICS_SINK, "sink_counts": SINK_COUNTS}


@pytest.fixture(scope="module")
def pipe_out(spark, transcripts_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe"))
    manifest = run_pipeline(spark, transcripts_path, out)
    return out, manifest


@pytest.fixture(scope="module")
def expected(transcripts_path):
    transcripts = pd.read_parquet(transcripts_path)
    return route_reference(transcripts, service_lookup_pandas())


@pytest.mark.parametrize("sink", ["traces", "logs", "metrics", "sink_counts"])
def test_routed_row_set_equality(spark, pipe_out, expected, sink):
    out, _ = pipe_out
    got = spark.read.parquet(f"{out}/{sink}")
    exp_pdf = expected[sink].copy()
    if sink == "sink_counts":
        exp_pdf["time_bucket"] = exp_pdf["time_bucket"].astype("datetime64[us]")
    exp = spark.createDataFrame(exp_pdf, SINK_SCHEMAS[sink])
    assert got.count() == len(exp_pdf)
    assert got.exceptAll(exp).count() == 0, f"{sink}: rows the engine produced but oracle didn't"
    assert exp.exceptAll(got).count() == 0, f"{sink}: rows the oracle produced but engine didn't"


def test_per_sink_aggregate_count_parity(spark, pipe_out, expected):
    out, manifest = pipe_out
    for sink in ("traces", "logs", "metrics"):
        assert manifest["sinks"][sink]["rows"] == len(expected[sink])
    n_total = sum(len(expected[s]) for s in ("traces", "logs", "metrics"))
    assert manifest["sinks"]["traces"]["input_rows"] == n_total


def test_lineage_covers_all_rows(pipe_out):
    _, manifest = pipe_out
    for sink, entry in manifest["sinks"].items():
        assert sum(p["rows"] for p in entry["lineage"]) == entry["rows"], sink


def test_determinism_rerun_same_hashes(spark, transcripts_path, pipe_out, tmp_path):
    _, manifest1 = pipe_out
    out2 = str(tmp_path / "rerun")
    manifest2 = run_pipeline(spark, transcripts_path, out2)
    for sink in ("traces", "logs", "metrics", "sink_counts"):
        assert manifest1["sinks"][sink]["content_hash"] == manifest2["sinks"][sink]["content_hash"], sink
        assert manifest1["sinks"][sink]["rows"] == manifest2["sinks"][sink]["rows"], sink


def _fail_after_sink(monkeypatch, sink):
    """Crash between sink writes: ``sink``'s commit (write + stamp)
    completes, then raises."""
    real_commit, fired = pipeline.commit_output, []

    def commit_then_fail(frame, dest, fingerprint):
        entry = real_commit(frame, dest, fingerprint)
        if os.path.basename(dest) == sink and not fired:
            fired.append(sink)
            raise RuntimeError(f"injected failure after sink {sink}")
        return entry

    monkeypatch.setattr(pipeline, "commit_output", commit_then_fail)


def _committed(out, transcripts_path):
    """Sink name → stamp entry, for the sinks of ``out`` committed for this
    input and the default lookup."""
    from otel_kafka_pg_spark.plans.manifest import committed_output, input_fingerprint

    fp = input_fingerprint(transcripts_path) + "|lookup:" + pipeline._lookup_fingerprint(service_lookup_pandas())
    entries = {s: committed_output(os.path.join(out, s), fp) for s in SINKS}
    return {s: e for s, e in entries.items() if e is not None}


def test_idempotent_resume_after_partial_failure(spark, transcripts_path, pipe_out, tmp_path, monkeypatch):
    _, manifest_full = pipe_out
    out = str(tmp_path / "resume")
    _fail_after_sink(monkeypatch, "traces")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, transcripts_path, out)
    # traces committed before the crash; logs/metrics/counts did not
    assert set(_committed(out, transcripts_path)) == {"traces"}

    resumed = run_pipeline(spark, transcripts_path, out)  # resume from the stamps
    for sink in ("traces", "logs", "metrics", "sink_counts"):
        assert resumed["sinks"][sink]["content_hash"] == manifest_full["sinks"][sink]["content_hash"], sink


def _finished_writes_only(spark, committed):
    """Every sink stamped committed was written in full."""
    for sink, entry in committed.items():
        assert os.path.exists(os.path.join(entry["path"], "_SUCCESS")), sink
        assert spark.read.parquet(entry["path"]).count() == entry["rows"], sink


def test_resume_after_failure_on_a_pooled_sink(spark, transcripts_path, pipe_out, tmp_path, monkeypatch):
    """A failure after a sink written from the pool (not the serial
    first one): the injected failure surfaces from run_pipeline, metrics
    and only sinks whose writes finished are stamped committed, and a
    resume reproduces the full run's hashes."""
    _, manifest_full = pipe_out
    out = str(tmp_path / "pooled")
    _fail_after_sink(monkeypatch, "metrics")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, transcripts_path, out)
    partial = _committed(out, transcripts_path)
    assert {"traces", "metrics"} <= set(partial)
    _finished_writes_only(spark, partial)
    resumed = run_pipeline(spark, transcripts_path, out)
    for sink in ("traces", "logs", "metrics", "sink_counts"):
        assert resumed["sinks"][sink]["content_hash"] == manifest_full["sinks"][sink]["content_hash"], sink
        assert resumed["sinks"][sink]["rows"] == manifest_full["sinks"][sink]["rows"], sink


def test_pooled_sink_error_waits_for_running_writes(spark, transcripts_path, pipe_out, tmp_path, monkeypatch):
    """A pooled sink whose builder raises makes run_pipeline raise; the
    failed sink is not stamped committed, and the routed frame's cache is
    released only after every other write has ended."""
    import threading
    import time

    from otel_kafka_pg_spark.plans import manifest

    _, manifest_full = pipe_out
    lock, in_flight, at_unpersist = threading.Lock(), [0], []
    frame_cls = type(spark.range(1))  # the session's concrete DataFrame class
    real_write, real_unpersist = manifest.write_with_summary, frame_cls.unpersist

    def counting_write(df, dest):
        with lock:
            in_flight[0] += 1
        try:
            return real_write(df, dest)
        finally:
            with lock:
                in_flight[0] -= 1

    def broken_logs(_routed):
        deadline = time.monotonic() + 30
        while in_flight[0] < 2 and time.monotonic() < deadline:  # the other pooled writes are running
            time.sleep(0.01)
        raise RuntimeError("logs builder broke")

    def spy_unpersist(self, *a, **kw):
        at_unpersist.append(in_flight[0])
        return real_unpersist(self, *a, **kw)

    monkeypatch.setattr(manifest, "write_with_summary", counting_write)
    monkeypatch.setitem(SINKS, "logs", broken_logs)
    monkeypatch.setattr(frame_cls, "unpersist", spy_unpersist)
    out = str(tmp_path / "broken")
    with pytest.raises(RuntimeError, match="logs builder broke"):
        pipeline.run_pipeline(spark, transcripts_path, out)
    assert at_unpersist == [0], "the cache was released while a write was still running"
    partial = _committed(out, transcripts_path)
    assert set(partial) == {"traces", "metrics", "sink_counts"}
    _finished_writes_only(spark, partial)
    for sink, entry in partial.items():
        assert entry["content_hash"] == manifest_full["sinks"][sink]["content_hash"], sink


def test_pooled_writes_inherit_the_job_group(spark, transcripts_path, tmp_path):
    """Sink writes from the pool run under the caller's local properties:
    every job of the run lands in the caller's job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("fanout-inherit", "pipeline under a job group")
    try:
        run_pipeline(spark, transcripts_path, str(tmp_path / "grouped"), resume=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped_before
    assert len(tracker.getJobIdsForGroup("fanout-inherit")) >= 4  # a write job per sink


def test_concurrent_manifest_updates_lose_no_sink(spark, transcripts_path, tmp_path, monkeypatch):
    """Stress the concurrent commits: 24 stand-in sinks (more pool threads
    than cores) whose writes all return at once, released by one barrier,
    under a shortened switch interval. Every sink must end with its own
    stamp for this input, and the returned summary must hold every entry —
    a lost update would make a resume after a crash rewrite, or miss, a
    finished sink."""
    import sys
    import threading

    from otel_kafka_pg_spark.plans import manifest as manifest_mod

    extra = [f"stress{i:02d}" for i in range(24)]
    for name in extra:
        monkeypatch.setitem(SINKS, name, lambda routed: routed)
    barrier = threading.Barrier(len(extra), timeout=60)

    def stand_in_write(df, dest):
        if os.path.basename(dest) in extra:
            barrier.wait()
        return 1, 0, []

    monkeypatch.setattr(manifest_mod, "write_with_summary", stand_in_write)
    out = tmp_path / "stress"
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        manifest = pipeline.run_pipeline(spark, transcripts_path, str(out), resume=False)
    finally:
        sys.setswitchinterval(interval)
    expected = {"traces", "logs", "metrics", "sink_counts", *extra}
    assert set(manifest["sinks"]) == expected
    for name in expected:
        stamp = json.loads((out / name / manifest_mod.STAMP_NAME).read_text())
        assert stamp["fingerprint"] == manifest["input_fingerprint"], name
        assert stamp["path"] == manifest["sinks"][name]["path"] == str(out / name), name


def test_manifest_records_per_sink_write_time(pipe_out):
    """Each sink entry carries write_s, the wall time of its write; with
    the writes overlapping, their sum may exceed elapsed_sec but no one
    write can."""
    _, manifest = pipe_out
    for sink, entry in manifest["sinks"].items():
        assert 0 < entry["write_s"] <= manifest["elapsed_sec"], sink


def test_resume_skips_completed_sinks(spark, transcripts_path, pipe_out):
    out, manifest = pipe_out
    again = run_pipeline(spark, transcripts_path, out)  # everything complete → no-op
    assert {s: e["content_hash"] for s, e in again["sinks"].items()} == {
        s: e["content_hash"] for s, e in manifest["sinks"].items()
    }


def test_resume_rewrites_a_deleted_sink(spark, transcripts_path, pipe_out, tmp_path):
    """A sink directory deleted after a complete run is rewritten on
    resume, with the first run's rows and hash; the other sinks are kept.
    Resume trusts a sink's own commit stamp, never a run summary that
    still lists the deleted sink as complete."""
    _, manifest_full = pipe_out
    out = str(tmp_path / "deleted")
    run_pipeline(spark, transcripts_path, out)
    shutil.rmtree(os.path.join(out, "logs"))
    resumed = run_pipeline(spark, transcripts_path, out)
    from otel_kafka_pg_spark.plans.manifest import content_hash

    assert os.path.isdir(os.path.join(out, "logs")), "resume did not rewrite the deleted sink"
    assert content_hash(spark.read.parquet(os.path.join(out, "logs"))) == (
        manifest_full["sinks"]["logs"]["rows"], manifest_full["sinks"]["logs"]["content_hash"])
    assert resumed["resumed_partial"]["sinks_this_run"] == ["logs"]
    for sink in ("traces", "logs", "metrics", "sink_counts"):
        assert resumed["sinks"][sink]["rows"] == manifest_full["sinks"][sink]["rows"], sink
        assert resumed["sinks"][sink]["content_hash"] == manifest_full["sinks"][sink]["content_hash"], sink


def test_multiwrite_resume_over_onepass_layout_rewrites(spark, transcripts_path, tmp_path):
    """Older versions could write a onepass layout: one partitionBy(signal_type)
    write whose manifest marks the same sink names complete for the same
    input fingerprint but never wrote the per-sink directories. Resuming
    run_pipeline over such a manifest must rewrite everything."""
    from otel_kafka_pg_spark.plans.manifest import input_fingerprint, save_manifest
    from otel_kafka_pg_spark.plans.pipeline import _lookup_fingerprint

    out = str(tmp_path / "mixed")
    fp = input_fingerprint(transcripts_path) + "|lookup:" + _lookup_fingerprint(service_lookup_pandas())
    routed_dest = os.path.join(out, "routed")
    save_manifest(out, {
        "input_fingerprint": fp,
        "layout": "onepass",
        "sinks": {
            s: {"status": "complete", "rows": 1, "content_hash": 0, "path": routed_dest}
            for s in ("traces", "logs", "metrics", "sink_counts")
        },
    })
    manifest = run_pipeline(spark, transcripts_path, out)  # must NOT no-op
    assert manifest["input_fingerprint"] == fp
    for sink in ("traces", "logs", "metrics", "sink_counts"):
        dest = os.path.join(out, sink)
        assert os.path.isdir(dest), f"{sink}: resume over a onepass manifest wrote nothing"
        assert manifest["sinks"][sink]["rows"] == spark.read.parquet(dest).count()
    assert manifest.get("layout") != "onepass"


def test_pipeline_survives_mega_conversation_skew(spark, tmp_path):
    """Stress the documented skew bound: the synth contract caps
    conversations at ~4k turns, but a real corpus can violate it. One
    conversation holding 50% of all turns (25k of 50k) must still route
    correctly: no default stage groups by conversation, so a cap
    violation must cost only its rows, never an error or wrong rows."""
    import pandas as pd

    from otel_kafka_pg_spark.plans.pipeline import run_pipeline

    n_mega, n_rest = 25_000, 25_000
    rows = {
        "conv_id": ["conv-mega"] * n_mega + [f"conv-{i % 500:05d}" for i in range(n_rest)],
        "turn_idx": list(range(n_mega)) + [i // 500 for i in range(n_rest)],
        "role": ["user"] * (n_mega + n_rest),
        "text": [f"turn {i} INFO" for i in range(n_mega + n_rest)],
        "tool": ["search"] * (n_mega + n_rest),
        # datetime64[us]: Spark's parquet reader rejects TIMESTAMP(NANOS)
        "ts": pd.to_datetime(
            1735689600_000 + pd.Series(range(n_mega + n_rest)) * 1000, unit="ms"
        ).astype("datetime64[us]"),
    }
    src = str(tmp_path / "skew_src")
    pd.DataFrame(rows).to_parquet(src + ".parquet")
    out = str(tmp_path / "skew_out")
    manifest = run_pipeline(spark, src + ".parquet", out, resume=False)
    total = sum(manifest["sinks"][s]["rows"] for s in ("traces", "logs", "metrics"))
    assert total == n_mega + n_rest  # every turn routed exactly once
    import pyspark.sql.functions as _F

    logs = spark.read.parquet(f"{out}/logs")
    mega = logs.filter(_F.col("conv_id") == "conv-mega")
    assert mega.count() == n_mega
    # ordering survived the skew: turn_idx is dense 0..n-1 for the mega conv
    mm = mega.agg(_F.min("turn_idx"), _F.max("turn_idx"), _F.count_distinct("turn_idx")).collect()[0]
    assert tuple(mm) == (0, n_mega - 1, n_mega)


def test_resume_invalidated_by_different_lookup(spark, transcripts_path, tmp_path):
    """A partial/complete resume must not mix enrichments: the same out_dir
    re-run with a DIFFERENT lookup re-derives every sink (the fingerprint
    folds the lookup content in), and with the SAME lookup resumes as a
    no-op."""
    import pandas as pd

    lk1 = spark.createDataFrame(service_lookup_pandas())
    out = str(tmp_path / "lk_out")
    m1 = run_pipeline(spark, transcripts_path, out, lookup=lk1)
    assert m1.get("turns_per_sec") is not None
    # same lookup content (fresh frame) → clean resume, nothing rewritten
    lk1b = spark.createDataFrame(service_lookup_pandas())
    m2 = run_pipeline(spark, transcripts_path, out, lookup=lk1b)
    assert m2["sinks"] == m1["sinks"] and "elapsed_sec" not in (m2.keys() - m1.keys())
    # different lookup → full rewrite with the new enrichment
    alt = service_lookup_pandas()
    alt["service_name"] = alt["service_name"] + "-v2"
    m3 = run_pipeline(spark, transcripts_path, out, lookup=spark.createDataFrame(alt))
    assert m3["input_fingerprint"] != m1["input_fingerprint"]
    assert (
        spark.read.parquet(f"{out}/traces").filter("service_name LIKE '%-v2'").count() > 0
    )


def test_input_fingerprint_recursive_and_distinct(tmp_path):
    """Partitioned (nested) inputs fingerprint their nested files; distinct
    empty/missing inputs never share a fingerprint (the ''=='' false-match
    that made resume skip work over a different dataset)."""
    from otel_kafka_pg_spark.plans.manifest import input_fingerprint

    a = tmp_path / "in_a" / "signal_type=log"
    a.mkdir(parents=True)
    (a / "part-0.parquet").write_bytes(b"x" * 10)
    fp1 = input_fingerprint(str(tmp_path / "in_a"))
    assert "part-0.parquet:10" in fp1 and "signal_type=log" in fp1
    (a / "part-0.parquet").write_bytes(b"x" * 11)  # same name, new size
    assert input_fingerprint(str(tmp_path / "in_a")) != fp1
    e1 = tmp_path / "empty_one"
    e2 = tmp_path / "empty_two"
    e1.mkdir()
    e2.mkdir()
    assert input_fingerprint(str(e1)) != input_fingerprint(str(e2))
    assert input_fingerprint(str(tmp_path / "missing_a")) != input_fingerprint(
        str(tmp_path / "missing_b")
    )


def test_input_fingerprint_normalizes_path_spelling(tmp_path, monkeypatch):
    """Equivalent spellings of the same input (relative vs absolute,
    trailing slash) must produce the SAME fingerprint — a job first run
    with ``--input data/in`` and resumed with ``--input /abs/data/in``
    must resume, not rewrite everything."""
    from otel_kafka_pg_spark.plans.manifest import input_fingerprint

    d = tmp_path / "in_norm"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x" * 7)
    absolute = input_fingerprint(str(d))
    assert input_fingerprint(str(d) + "/") == absolute
    monkeypatch.chdir(tmp_path)
    assert input_fingerprint("in_norm") == absolute


def test_default_lookup_is_fingerprinted_for_resume(spark, transcripts_path, tmp_path):
    """Regression (r5 review): the DEFAULT enrich lookup must be folded into
    the resume fingerprint just like a caller-provided one — its content
    lives in code and can change between versions, the exact mixed-enrich
    resume _lookup_fingerprint guards against. Same content through either
    frame type (pandas default vs explicit Spark copy) → same fingerprint
    → clean resume; a different lookup → full rewrite."""
    from otel_kafka_pg_spark.plans.manifest import MANIFEST_NAME
    from otel_kafka_pg_spark.schemas import SERVICE_LOOKUP
    from otel_kafka_pg_spark.sources.synth import service_lookup_pandas

    out = str(tmp_path / "deflk")
    manifest = run_pipeline(spark, transcripts_path, out)
    with open(os.path.join(out, MANIFEST_NAME)) as f:
        assert "|lookup:" in json.load(f)["input_fingerprint"]

    # explicit Spark copy of the default → fingerprint match → pure resume
    same = spark.createDataFrame(service_lookup_pandas())
    again = run_pipeline(spark, transcripts_path, out, lookup=same)
    assert again["input_fingerprint"] == manifest["input_fingerprint"]
    assert {s: e["content_hash"] for s, e in again["sinks"].items()} == {
        s: e["content_hash"] for s, e in manifest["sinks"].items()
    }

    # different lookup content → fingerprint mismatch → sinks re-run
    other = spark.createDataFrame(
        [("bash", "user", "svc-OTHER", "{}")], SERVICE_LOOKUP
    )
    redone = run_pipeline(spark, transcripts_path, out, lookup=other)
    assert redone["input_fingerprint"] != manifest["input_fingerprint"]
    assert (
        redone["sinks"]["traces"]["content_hash"]
        != manifest["sinks"]["traces"]["content_hash"]
    )
