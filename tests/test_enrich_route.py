"""Enrich + routing tests: merge-precedence asymmetry, broadcast plan,
unknown-service default, exclusive routing priority."""

from __future__ import annotations

import datetime as dt
import json

import pytest

from pyspark.sql import functions as F

from otel_kafka_pg_spark.functions.parse import parse_turns
from otel_kafka_pg_spark.operators.enrich import enrich_with_lookup
from otel_kafka_pg_spark.operators.route import classify_signal, to_logs, to_traces, with_attributes
from otel_kafka_pg_spark.schemas import SERVICE_LOOKUP, TRANSCRIPTS

TS = dt.datetime(2025, 1, 1)
TRACE_TXT = "x trace=" + "a" * 32 + " span=" + "b" * 16 + " call:bash(a) status=OK dur=1.0ms"


def _prep(spark, rows, lookup_rows):
    df = spark.createDataFrame(rows, TRANSCRIPTS)
    lk = spark.createDataFrame(lookup_rows, SERVICE_LOOKUP)
    # as in build_routed, with_attributes adds the column the sink builders read
    return with_attributes(classify_signal(enrich_with_lookup(parse_turns(df), lk)))


def _conflicting_lookup():
    # 'status' key collides with the record-side attr — the precedence probe
    return [("bash", "user", "svc-bash", json.dumps({"status": "FROM_RESOURCE", "extra": "r"}))]


def test_merge_precedence_resource_wins_for_traces(spark):
    # reference processor.go:116-119: resource attrs OVERWRITE span attrs
    routed = _prep(spark, [("c1", 0, "user", TRACE_TXT, "bash", TS)], _conflicting_lookup())
    attrs = json.loads(to_traces(routed).collect()[0]["attributes"])
    assert attrs["status"] == "FROM_RESOURCE"
    assert attrs["extra"] == "r"


def test_merge_precedence_record_wins_for_logs(spark):
    # reference processor.go:213-218: record attrs win (if !exists guard)
    routed = _prep(spark, [("c1", 0, "user", "hello INFO", "bash", TS)], _conflicting_lookup())
    attrs = json.loads(to_logs(routed).collect()[0]["attributes"])
    assert attrs["status"] == "UNSET"  # record side survived
    assert attrs["extra"] == "r"  # non-conflicting resource key merged


def test_lookup_miss_defaults_to_unknown(spark):
    # reference processor.go:101-103: absent service.name → "unknown"
    routed = _prep(spark, [("c1", 0, "user", "hello", None, TS)], _conflicting_lookup())
    row = to_logs(routed).collect()[0]
    assert row["service_name"] == "unknown"
    attrs = json.loads(row["attributes"])
    assert attrs["source"] == "record"


def test_enrich_is_broadcast_hash_join(spark):
    # scale guard: the lookup join must never shuffle the fact side
    routed = _prep(spark, [("c1", 0, "user", "hello", "bash", TS)], _conflicting_lookup())
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_routing_priority_exclusive(spark):
    # trace > metric > log, mirroring the reference's one-topic-one-table dispatch
    rows = [
        ("c1", 0, "user", TRACE_TXT + " metric:latency=1.0", "bash", TS),  # → trace
        ("c1", 1, "user", "metric:latency=2.0 INFO", "bash", TS),  # → metric
        ("c1", 2, "user", "plain INFO", "bash", TS),  # → log
        ("c1", 3, "user", "span=" + "b" * 16 + " only", "bash", TS),  # span w/o trace → log
    ]
    routed = _prep(spark, rows, _conflicting_lookup())
    got = {r["turn_idx"]: r["signal_type"] for r in routed.select("turn_idx", "signal_type").collect()}
    assert got == {0: "trace", 1: "metric", 2: "log", 3: "log"}


def test_stable_order_turn_seq(spark):
    from otel_kafka_pg_spark.operators.order import with_stable_order

    rows = [("c1", i, "user", "t", "bash", TS) for i in (3, 0, 2, 1)] + [("c2", 0, "user", "t", "bash", TS)]
    df = spark.createDataFrame(rows, TRANSCRIPTS)
    out = with_stable_order(df).select("conv_id", "turn_idx", "turn_seq").collect()
    for r in out:
        assert r["turn_seq"] == r["turn_idx"] + 1  # dense per-conv sequence


def test_degenerate_duration_nulls_end_time_not_crash(spark):
    """Regression (r5 review): ANSI mode (Spark 4 default) raises
    CAST_OVERFLOW on long-cast of a degenerate parsed duration; one bad
    row must NULL its end_time (try_cast), not abort the pipeline."""
    big = "x trace=" + "a" * 32 + " span=" + "b" * 16 + " call:bash(a) status=OK dur=99999999999999999999999.0ms"
    routed = _prep(spark, [("c1", 0, "user", big, "bash", TS)], _conflicting_lookup())
    row = to_traces(routed).collect()[0]
    assert row["end_time"] is None
    assert row["duration"] == pytest.approx(1e23)
    assert row["start_time"] is not None


def test_long_representable_duration_overflowing_addition_nulls_end_time(spark):
    """Regression (r5 review, confirmed on ANSI): a duration that FITS a
    long but overflows when ADDED to start_time raised ARITHMETIC_OVERFLOW
    through plain +; try_add NULLs the sum instead."""
    big = (
        "x trace=" + "a" * 32 + " span=" + "b" * 16
        + " call:bash(a) status=OK dur=9223372036854774784.0ms"
    )
    routed = _prep(spark, [("c1", 0, "user", big, "bash", TS)], _conflicting_lookup())
    row = to_traces(routed).collect()[0]
    assert row["end_time"] is None
    assert row["start_time"] is not None
