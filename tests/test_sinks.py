"""Durable sink operations: MERGE upsert (Iceberg path skip-gated), in-place
retention delete parity vs the pure keep-side filter, and the Kafka source
wiring (config parity with the reference's consumer; jar-gated)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from otel_kafka_pg_spark.plans.manifest import content_hash
from otel_kafka_pg_spark.plans.sinks import (
    iceberg_available,
    merge_upsert,
    merge_upsert_iceberg,
    retention_delete,
)

SF = "/root/testdata/sf0.01"


def test_content_hash_tells_null_positions_apart(spark):
    """Spark's xxhash64 skips NULL inputs, so a row hash over the raw
    columns made ("c1", 5, "x", NULL) and ("c1", 5, NULL, "x") collide: a
    manifest (and a stream's content-signed marker) could not tell two
    sinks apart that differ only in which column is NULL."""
    schema = "conv_id string, n long, a string, b string"
    left = spark.createDataFrame([("c1", 5, "x", None)], schema)
    right = spark.createDataFrame([("c1", 5, None, "x")], schema)
    assert content_hash(left) != content_hash(right)

    from otel_kafka_pg_spark.streaming.markers import content_signature

    assert content_signature(left, left.columns) != content_signature(right, right.columns)


def test_write_summary_falls_back_when_footers_disagree(spark, tmp_path, monkeypatch):
    """When the observed row count and the committed parquet footers
    disagree (a task retry double-counted the accumulators),
    write_with_summary recomputes rows and hash from the written files."""
    from otel_kafka_pg_spark.plans import manifest

    real_lineage, recounts = manifest.parquet_file_lineage, []

    def one_row_short(dest):
        lineage = real_lineage(dest)
        lineage[0]["rows"] -= 1
        return lineage

    def counting_hash(df):
        recounts.append(1)
        return content_hash(df)

    monkeypatch.setattr(manifest, "parquet_file_lineage", one_row_short)
    monkeypatch.setattr(manifest, "content_hash", counting_hash)
    df = spark.range(0, 1000, numPartitions=3).selectExpr("id", "id % 7 AS k", "CAST(id AS STRING) AS s")
    dest = str(tmp_path / "mismatch")
    rows, chash, _ = manifest.write_with_summary(df, dest)
    assert recounts == [1], "the fallback read-back did not run"
    assert (rows, chash) == content_hash(spark.read.parquet(dest)) == content_hash(df)


def test_merge_upsert_semantics(spark):
    base = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], "id int, value double")
    upd = spark.createDataFrame([(2, 99.0), (4, 40.0)], "id int, value double")
    out = {r["id"]: r["value"] for r in merge_upsert(spark, base, upd, "id", ["value"]).collect()}
    assert out == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0}  # update, insert, pass-through


def test_merge_upsert_null_update_value_wins(spark):
    """Real MERGE semantics: a matched update wins WHOLESALE, NULL values
    included — UPDATE SET value = NULL must null the base value, not keep
    it (a per-column coalesce silently kept the base; this is the parity
    contract with merge_upsert_iceberg's real MERGE INTO)."""
    base = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id int, value double")
    upd = spark.createDataFrame([(2, None), (3, None)], "id int, value double")
    out = {r["id"]: r["value"] for r in merge_upsert(spark, base, upd, "id", ["value"]).collect()}
    assert out == {1: 10.0, 2: None, 3: None}  # matched→NULL, inserted NULL, pass-through


def test_merge_upsert_rejects_duplicate_update_keys(spark):
    # a real MERGE INTO errors when an update row matches more than once;
    # the fallback must too, instead of silently fanning out base rows
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    base = spark.createDataFrame([(1, 10.0)], "id int, value double")
    upd = spark.createDataFrame([(1, 99.0), (1, 77.0)], "id int, value double")
    with _pytest.raises((SparkRuntimeException, Py4JJavaError)):
        merge_upsert(spark, base, upd, "id", ["value"]).collect()


def test_merge_upsert_iceberg_matches_fallback(spark, tmp_path):
    if not iceberg_available(spark):
        pytest.skip("iceberg-spark runtime jar not on the classpath in this container")
    base = spark.createDataFrame([(1, 10.0), (2, 20.0), (5, 50.0)], "id int, value double")
    # includes a NULL update value: both paths must null the base value
    upd = spark.createDataFrame([(2, 99.0), (3, 30.0), (5, None)], "id int, value double")
    got = merge_upsert_iceberg(spark, base, upd, "id", ["value"], str(tmp_path / "wh"))
    exp = merge_upsert(spark, base, upd, "id", ["value"])
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_iceberg_create_merge_delete_roundtrip(spark, tmp_path):
    """Full Iceberg catalog smoke (r3 verdict item 8): create a table, MERGE
    INTO it, DELETE FROM it, and check the surviving rows — so the day a
    runtime jar appears on the classpath, the whole row-level-ops path has
    coverage immediately. Skips cleanly in this jar-less container."""
    if not iceberg_available(spark):
        pytest.skip("iceberg-spark runtime jar not on the classpath in this container")
    import uuid

    from otel_kafka_pg_spark.plans.sinks import ensure_iceberg_catalog, retention_delete_iceberg

    cat = ensure_iceberg_catalog(spark, str(tmp_path / "wh"))
    tbl = f"{cat}.db.smoke_{uuid.uuid4().hex[:12]}"
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id int, value double"
    ).writeTo(tbl).using("iceberg").create()
    spark.createDataFrame([(2, 99.0), (4, 40.0)], "id int, value double").createOrReplaceTempView(
        "_smoke_updates"
    )
    spark.sql(
        f"MERGE INTO {tbl} t USING _smoke_updates s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET t.value = s.value WHEN NOT MATCHED THEN INSERT *"
    )
    retention_delete_iceberg(spark, tbl, "value < 30.0")
    got = {(r["id"], r["value"]) for r in spark.table(tbl).collect()}
    assert got == {(2, 99.0), (3, 30.0), (4, 40.0)}


def test_retention_delete_matches_keepside_filter(spark, tmp_path):
    """The in-place delete (rewrite + atomic swap) must leave exactly the
    rows the pure keep-side filter keeps — row count AND order-insensitive
    content hash (the f8 ↔ rd1 parity the reference's cleanup job implies,
    cleanup/service.go:128-150)."""
    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "ts", "value")
    sink = str(tmp_path / "sink")
    ev.write.parquet(sink)

    cutoff = F.to_timestamp_ntz(F.lit("2024-01-20 00:00:00"))
    n = retention_delete(spark, sink, F.col("ts") < cutoff)

    survivors = spark.read.parquet(sink)
    expected = ev.filter(F.col("ts") >= cutoff)
    assert n == survivors.count() == expected.count()
    assert content_hash(survivors) == content_hash(expected)
    # the swap left no temp/old directories behind
    parent = os.path.dirname(sink)
    assert os.listdir(parent) == ["sink"]


def test_retention_delete_is_repeatable(spark, tmp_path):
    # deleting again with the same predicate is a no-op (idempotent)
    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "ts")
    sink = str(tmp_path / "sink")
    ev.write.parquet(sink)
    cutoff = F.to_timestamp_ntz(F.lit("2024-01-20 00:00:00"))
    n1 = retention_delete(spark, sink, F.col("ts") < cutoff)
    n2 = retention_delete(spark, sink, F.col("ts") < cutoff)
    assert n1 == n2 == spark.read.parquet(sink).count()


def test_kafka_source_wiring_config_parity(spark):
    """The kafka branch maps the reference consumer's config 1:1
    (consumer.go:91-116): two topics, earliest offsets, bounded batch. The
    connector jar is absent in this container, so reaching the kafka code
    path must fail AT THE SOURCE LOOKUP (proving the branch is wired all
    the way to Spark) — on a cluster shipping spark-sql-kafka the same
    call connects instead."""
    from otel_kafka_pg_spark.streaming.stream_pipeline import KAFKA_DEFAULTS, _kafka_turn_stream

    assert KAFKA_DEFAULTS["subscribe"] == "otlp-traces,otlp-logs"  # 2 topics (consumer.go:116)
    assert KAFKA_DEFAULTS["startingOffsets"] == "earliest"  # consumer.go:91
    assert int(KAFKA_DEFAULTS["maxOffsetsPerTrigger"]) > 0  # BatchSize analog

    try:
        df = _kafka_turn_stream(spark, {"kafka.bootstrap.servers": "localhost:9092"})
    except Exception as e:  # jar absent → DATA_SOURCE_NOT_FOUND, naming kafka
        assert "kafka" in str(e).lower()
    else:  # jar present → a real streaming frame with the transcript schema
        assert df.isStreaming
        assert set(df.columns) == {"conv_id", "turn_idx", "role", "text", "tool", "ts"}


def test_compact_sink_preserves_content_and_reduces_files(spark, tmp_path):
    from otel_kafka_pg_spark.plans.manifest import content_hash
    from otel_kafka_pg_spark.plans.sinks import compact_sink

    sink = str(tmp_path / "frag")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    # simulate micro-batch fragmentation: many small appends
    for i in range(6):
        ev.filter(F.col("event_id") % 6 == i).repartition(4).write.mode("append").parquet(sink)
    before_hash = content_hash(spark.read.parquet(sink))

    n_before, n_after = compact_sink(spark, sink, target_mb=512)
    assert n_before >= 24 and n_after < n_before and n_after >= 1
    assert content_hash(spark.read.parquet(sink)) == before_hash  # rows exactly preserved


def test_compact_sink_is_idempotent(spark, tmp_path):
    from otel_kafka_pg_spark.plans.sinks import compact_sink

    sink = str(tmp_path / "frag2")
    spark.read.parquet(f"{SF}/events.parquet").repartition(8).write.parquet(sink)
    _, n1 = compact_sink(spark, sink)
    _, n2 = compact_sink(spark, sink)
    assert n1 == n2  # already-compacted sink stays put


def test_compact_sink_preserves_sidecar_markers_and_partitions(spark, tmp_path):
    """Compaction must not erase the replay markers a streaming sink relies
    on, and must preserve a hive partition layout (the one-pass routing
    dir) including its partition-pruned reads."""
    from otel_kafka_pg_spark.plans.manifest import content_hash
    from otel_kafka_pg_spark.plans.sinks import compact_sink

    sink = str(tmp_path / "psink")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    for i in range(3):  # fragmented, hive-partitioned appends
        ev.filter(F.col("event_id") % 3 == i).repartition(3).write.partitionBy(
            "event_type"
        ).mode("append").parquet(sink)
    marker_dir = os.path.join(sink, "_batches")
    os.makedirs(marker_dir)
    with open(os.path.join(marker_dir, "0.done"), "w") as fh:
        fh.write("sig0")
    before_hash = content_hash(spark.read.parquet(sink))

    n_before, n_after = compact_sink(spark, sink)
    assert n_after < n_before
    with open(os.path.join(marker_dir, "0.done")) as fh:
        assert fh.read() == "sig0"  # sidecar carried over
    assert content_hash(spark.read.parquet(sink)) == before_hash
    # partition layout survives: key=value dirs exist and pruning works
    assert any("event_type=" in d for d in os.listdir(sink))
    pruned = spark.read.parquet(sink).filter(F.col("event_type") == "click")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1)


def test_interrupted_swap_recovers(spark, tmp_path):
    from otel_kafka_pg_spark.plans.sinks import compact_sink, recover_interrupted_swap

    sink = str(tmp_path / "rsink")
    spark.read.parquet(f"{SF}/events.parquet").write.parquet(sink)
    n = spark.read.parquet(sink).count()
    # simulate a crash between the two renames: path gone, .old survives
    os.rename(sink, sink + ".old")
    assert recover_interrupted_swap(sink)
    assert spark.read.parquet(sink).count() == n
    # and compact_sink itself self-heals on entry
    os.rename(sink, sink + ".old")
    compact_sink(spark, sink)
    assert spark.read.parquet(sink).count() == n


def test_zvalue_interleaves_bits_exactly(spark):
    from otel_kafka_pg_spark.plans.sinks import zvalue

    df = spark.createDataFrame([(0b1011, 0b0110)], "x long, y long")
    # x bit b -> position 2b; y bit b -> position 2b+1 (col order [x, y])
    got = df.select(zvalue(["x", "y"], bits=4).alias("z")).head()["z"]
    want = 0
    for b in range(4):
        want |= ((0b1011 >> b) & 1) << (2 * b)
        want |= ((0b0110 >> b) & 1) << (2 * b + 1)
    assert got == want == 0b1101101
    import pytest

    with pytest.raises(ValueError, match="overflow"):
        zvalue(["x", "y"], bits=32)


def test_write_zordered_files_cover_disjoint_curve_ranges(spark, tmp_path):
    """The layout contract: each output file covers a contiguous,
    pairwise-disjoint z-range (repartitionByRange on the curve), which is
    exactly what lets parquet min/max stats prune multi-dimensional
    probes. z is recomputed from the read-back ids — it's a deterministic
    function of the row, not stored."""
    import glob
    import os

    from otel_kafka_pg_spark.plans.sinks import write_zordered, zvalue

    dest = str(tmp_path / "zsink")
    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "user_id")
    write_zordered(ev, dest, ["user_id", "event_id"], n_files=6)

    spans = []
    total = 0
    for f in sorted(glob.glob(os.path.join(dest, "part-*.parquet"))):
        part = spark.read.parquet(f).select(zvalue(["user_id", "event_id"]).alias("z"))
        row = part.agg(F.min("z").alias("lo"), F.max("z").alias("hi"), F.count("*").alias("n")).head()
        if row["n"]:
            spans.append((row["lo"], row["hi"]))
            total += row["n"]
    assert total == ev.count()
    spans.sort()
    assert len(spans) >= 3  # the range exchange actually spread the data
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev < lo_next  # strictly disjoint curve ranges


def test_merge_agg_deltas_insert_update_passthrough(spark):
    from otel_kafka_pg_spark.operators.aggregate import merge_agg_deltas

    base = spark.createDataFrame([("a", 10), ("b", 5)], "k string, cnt long")
    delta = spark.createDataFrame([("b", 2), ("c", 7)], "k string, cnt long")
    got = {
        r["k"]: r["cnt"]
        for r in merge_agg_deltas(base, delta, keys=["k"], sum_cols=["cnt"]).collect()
    }
    assert got == {"a": 10, "b": 7, "c": 7}  # passthrough, merge, insert
    # empty delta is the identity
    empty = spark.createDataFrame([], "k string, cnt long")
    same = {
        r["k"]: r["cnt"]
        for r in merge_agg_deltas(base, empty, keys=["k"], sum_cols=["cnt"]).collect()
    }
    assert same == {"a": 10, "b": 5}
