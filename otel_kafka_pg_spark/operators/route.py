"""Signal routing + per-sink row shaping — the topic-dispatch analog.

The reference dispatches each Kafka message by topic to exactly one decoder
and one sink table (reference: modules/kafka/consumer/consumer.go:228-274).
Here classification is a column expression over the parsed markers, and the
fan-out is one filtered projection per sink. Routing is EXCLUSIVE (priority:
trace > metric > log), mirroring the one-topic-one-table dispatch.

Deterministic IDs (deliberate semantic fix, documented):
- trace row id = "<trace_id>-<span_id>" — exactly the reference
  (processor.go:134, hex already applied upstream).
- log/metric id = sha2(conv_id|turn_idx|ms) — the reference's log ID mixes
  wall-clock nanos (processor.go:362), making writes only probabilistically
  deduped; we keep its hash scheme minus the entropy so resume/replay is
  idempotent.

Unit conversions mirror processor.go:140-142: epoch-ms longs, fractional-ms
double duration.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.attrs import canonical_json, merge_attrs, record_attrs_map, record_carries, resource_attrs_map


def classify_signal(df: DataFrame) -> DataFrame:
    """Add signal_type ∈ {trace, metric, log}; exclusive, priority-ordered."""
    return df.withColumn(
        "signal_type",
        F.when((F.col("trace_id") != "") & (F.col("span_id") != ""), "trace")
        .when(F.col("metric_name") != "", "metric")
        .otherwise("log"),
    )


def with_attributes(df: DataFrame) -> DataFrame:
    """Materialize the canonical attrs JSON ONCE per row, flavor picked by
    signal_type (CaseWhen evaluates only the taken branch). The precedence
    merge + sort + render is the most expensive scalar work in the pipeline;
    computing it here — in the same stage that is persisted and scanned by
    all three sinks — does the work 1× instead of once per sink scan. The
    sink builders read only this column."""
    return df.withColumn("attributes", _attributes())


@functools.cache
def _attributes() -> Column:
    """The attributes expression reads only fixed column names, so it is one
    value for every frame. Building it is about 1,200 py4j round trips (each
    function call, literal and lambda is several), which the driver would
    otherwise pay on every pipeline run before the first job starts."""
    rec, res = record_attrs_map(), resource_attrs_map()
    return F.when(
        F.col("signal_type") == "trace",
        canonical_json(merge_attrs(rec, res, resource_wins=True)),
    ).otherwise(canonical_json(merge_attrs(rec, res, resource_wins=False, record_has=record_carries)))


def _ms(col: str = "ts"):
    # input ts is TIMESTAMP_NTZ (parquet via Arrow); session TZ is pinned to
    # UTC (session.py) so the cast to TIMESTAMP is deterministic
    return F.unix_millis(F.col(col).cast("timestamp"))


def _hash_id(kind: str):
    return F.sha2(
        F.concat_ws("|", F.lit(kind), F.col("conv_id"), F.col("turn_idx"), _ms()), 256
    )


def to_traces(df: DataFrame) -> DataFrame:
    """Trace-routed rows → traces sink schema (schema.go:36-52 analog).

    Attr precedence: resource wins (processor.go:116-119), applied by
    with_attributes.
    """
    start = _ms()
    dur = F.coalesce(F.col("dur_ms"), F.lit(0.0))
    return df.filter(F.col("signal_type") == "trace").select(
        F.concat_ws("-", "trace_id", "span_id").alias("id"),
        "trace_id",
        "span_id",
        "parent_span_id",
        F.coalesce(F.nullif(F.col("call_tool"), F.lit("")), F.lit("unknown")).alias("name"),
        "service_name",
        start.alias("start_time"),
        # try_cast AND try_add, not cast/+: ANSI mode (Spark 4 default)
        # raises CAST_OVERFLOW on a degenerate parsed duration (dur=1e23ms)
        # and ARITHMETIC_OVERFLOW when a long-representable duration
        # (~9.2e18) overflows on addition to start_time — either way one
        # bad row must NULL its end_time, not abort the whole pipeline
        F.try_add(start, dur.try_cast("long")).alias("end_time"),
        dur.alias("duration"),
        "status",
        "attributes",
        "conv_id",
        "turn_idx",
    )


def to_logs(df: DataFrame) -> DataFrame:
    """Log-routed rows → logs sink schema (schema.go:64-74 analog).

    Attr precedence: record wins (processor.go:213-218) — note the asymmetry
    vs to_traces, applied by with_attributes.
    """
    return df.filter(F.col("signal_type") == "log").select(
        _hash_id("log").alias("id"),
        _ms().alias("timestamp"),
        "service_name",
        "message",
        "severity",
        "trace_id",
        "span_id",
        "attributes",
        "conv_id",
        "turn_idx",
    )


def to_metrics(df: DataFrame) -> DataFrame:
    """Metric-routed rows → metrics sink schema (schema.go:83-97 analog —
    the table the reference declares but never populates; record wins, as
    metrics follow the log decode path in spirit)."""
    return df.filter(F.col("signal_type") == "metric").select(
        _hash_id("metric").alias("id"),
        F.col("metric_name"),
        F.lit("gauge").alias("type"),
        "service_name",
        _ms().alias("timestamp"),
        F.col("metric_value").alias("value"),
        "attributes",
        "conv_id",
        "turn_idx",
    )


SINK_BUILDERS = {"traces": to_traces, "logs": to_logs, "metrics": to_metrics}

# every column of the routed frame that a sink builder or sink_counts reads
# (pinned by tests/test_plan_guards.py) — what the sink fan-out caches
SINK_COLUMNS = (
    "signal_type", "conv_id", "turn_idx", "ts", "role", "tool", "service_name",
    "trace_id", "span_id", "parent_span_id", "call_tool", "dur_ms", "status",
    "severity", "message", "metric_name", "metric_value", "attributes",
)


def sink_counts(routed: DataFrame) -> DataFrame:
    """Per-sink aggregate counts over (conv_id, role, tool, hour bucket) —
    the parity analog of the reference's batch-insert count logs
    (consumer.go:302,316; repository Info(count) lines). Map-side partial
    aggregation makes this a cheap single shuffle at any scale."""
    return (
        routed.groupBy(
            F.col("signal_type").alias("sink"),
            "conv_id",
            "role",
            "tool",
            F.date_trunc("hour", F.col("ts")).alias("time_bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


# every sink the batch and streaming pipelines write, in write order
SINKS = {**SINK_BUILDERS, "sink_counts": sink_counts}
