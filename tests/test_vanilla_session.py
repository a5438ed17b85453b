"""Session-conf independence: every driver-facing query must be correct in
a CALLER-PROVIDED vanilla session (the grading driver builds its own
SparkSession without any of session.py's engine confs).

Round-2 regression: merge_attrs relied on spark.sql.mapKeyDedupPolicy=
LAST_WIN (set only in session.py), so f10/st1 crashed with
DUPLICATED_MAP_KEY under the driver's default EXCEPTION policy. The merge
is now an expression-level map_filter+map_concat with explicit precedence
(functions/attrs.py), correct under ANY dedup policy. These tests pin that
by running the previously-crashing paths with the conf flipped to the
vanilla default — mapKeyDedupPolicy is a runtime conf, so this reproduces
a foreign session exactly for the code under test.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from otel_kafka_pg_spark.queries import all_queries


@pytest.fixture()
def vanilla(spark):
    """The session with engine confs reverted to Spark defaults."""
    prev = spark.conf.get("spark.sql.mapKeyDedupPolicy")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
    yield spark
    spark.conf.set("spark.sql.mapKeyDedupPolicy", prev)


def test_f10_attr_predicate_under_vanilla_session(vanilla, sf_dir):
    fn = all_queries()["f10_attr_predicate"]
    rows = fn(vanilla, sf_dir).collect()
    assert len(rows) > 0
    assert all(r["name"] == "search" for r in rows)


def test_sink_write_under_vanilla_session(vanilla, transcripts_path, tmp_path):
    # the full route → attrs-merge → canonical-JSON → parquet write path
    # (what st1's foreachBatch does per micro-batch) in a default session
    from otel_kafka_pg_spark.plans.pipeline import build_routed
    from otel_kafka_pg_spark.operators.route import to_logs, to_traces

    routed = build_routed(vanilla, vanilla.read.parquet(transcripts_path))
    for name, df in (("traces", to_traces(routed)), ("logs", to_logs(routed))):
        out = str(tmp_path / name)
        df.write.mode("overwrite").parquet(out)
        assert vanilla.read.parquet(out).count() > 0


def test_every_driver_entry_executes_under_vanilla_confs(vanilla, sf_dir):
    """Crash sweep over the ENTIRE driver window with the grading driver's
    default confs (EXCEPTION dedup policy, 200 shuffle partitions): r2 lost
    three rows to a query that was only correct under session.py's tuning —
    this pins that no registry entry depends on engine session confs to
    RUN. (Value correctness vs DuckDB is test_oracle_differential's job.)
    """
    from otel_kafka_pg_spark.queries import DRIVER_ORDER, queries

    prev_shuffle = vanilla.conf.get("spark.sql.shuffle.partitions")
    vanilla.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        q = queries()
        for name in DRIVER_ORDER:
            assert q[name](vanilla, sf_dir).count() >= 0, name
    finally:
        vanilla.conf.set("spark.sql.shuffle.partitions", prev_shuffle)


def test_every_extra_entry_executes_under_vanilla_confs(vanilla, sf_dir):
    """Same conf-independence sweep for every registry entry outside
    DRIVER_ORDER: any of them can enter the driver window, so they must
    already run under the driver's default session confs."""
    from otel_kafka_pg_spark.queries import DRIVER_ORDER, REGISTRY

    extras = [name for name in REGISTRY if name not in DRIVER_ORDER]
    assert len(extras) == 101
    prev_shuffle = vanilla.conf.get("spark.sql.shuffle.partitions")
    vanilla.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        for name in extras:
            assert REGISTRY[name][0](vanilla, sf_dir).count() >= 0, name
    finally:
        vanilla.conf.set("spark.sql.shuffle.partitions", prev_shuffle)


def test_session_carries_every_tuned_conf(spark):
    """get_spark is built on _tuned: the tests' session launches with each
    engine conf _tuned sets (launch conf, so runtime overrides elsewhere in
    the suite cannot mask a missing one)."""
    from otel_kafka_pg_spark.session import _tuned

    class Recorder:
        def __init__(self):
            self.conf = {}

        def config(self, key, value):
            self.conf[key] = value
            return self

    launch = spark.sparkContext.getConf()
    tuned = _tuned(Recorder(), int(launch.get("spark.sql.shuffle.partitions"))).conf
    assert len(tuned) == 9
    for key, value in tuned.items():
        assert launch.get(key) == value, key


def test_merge_precedence_is_policy_independent(vanilla):
    # both merge directions produce identical results under EXCEPTION policy
    from otel_kafka_pg_spark.functions.attrs import merge_attrs

    df = vanilla.createDataFrame([(1,)], "id int").select(
        merge_attrs(
            F.create_map(F.lit("k"), F.lit("rec"), F.lit("only_rec"), F.lit("a")),
            F.create_map(F.lit("k"), F.lit("res"), F.lit("only_res"), F.lit("b")),
            resource_wins=True,
        ).alias("t"),
        merge_attrs(
            F.create_map(F.lit("k"), F.lit("rec"), F.lit("only_rec"), F.lit("a")),
            F.create_map(F.lit("k"), F.lit("res"), F.lit("only_res"), F.lit("b")),
            resource_wins=False,
        ).alias("l"),
    )
    row = df.collect()[0]
    assert dict(row["t"]) == {"k": "res", "only_rec": "a", "only_res": "b"}
    assert dict(row["l"]) == {"k": "rec", "only_rec": "a", "only_res": "b"}
