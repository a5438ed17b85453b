"""Physical-plan guards — the properties that make the 100 TB plan work.

Each test pins a plan property that silent regressions would destroy at
scale long before correctness tests notice: filters reaching the parquet
scan, column pruning, broadcast (not shuffle) enrich, map-side partial
aggregation, top-k as TakeOrdered instead of a global sort.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _plan(df, execute: bool = False) -> str:
    if execute:  # AQE: the final plan only exists after execution
        df.count()
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = spark.read.parquet(f"{SF}/events.parquet").filter(F.col("event_type") == "error").select("event_id")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)]" in plan


def test_column_pruning_reads_only_projected(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:" in plan
    assert "l_comment" not in plan  # widest column never touched


def test_enrich_join_is_broadcast_no_shuffle_of_fact(spark):
    from otel_kafka_pg_spark.operators.enrich import enrich_with_lookup
    from otel_kafka_pg_spark.schemas import SERVICE_LOOKUP
    from otel_kafka_pg_spark.sources.synth import synth_service_lookup

    # join keys must come from data columns — literal keys get constant-
    # folded into a lookup-side filter and the join degenerates to BNLJ
    fact = spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "CASE WHEN value > 50 THEN 'search' ELSE 'bash' END AS tool",
        "CASE WHEN event_type = 'click' THEN 'user' ELSE 'assistant' END AS role",
        "event_id",
    )
    lk = spark.createDataFrame(
        [(r["tool"], r["role"], r["service_name"], r["resource_attrs"]) for r in synth_service_lookup()],
        SERVICE_LOOKUP,
    )
    plan = _plan(enrich_with_lookup(fact, lk), execute=True)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_aggregate_is_partial_then_final(spark):
    df = spark.read.parquet(f"{SF}/events.parquet").groupBy("event_type").count()
    plan = _plan(df)
    # map-side combine before the exchange: partial_count then final count
    assert "partial_count" in plan


def test_topk_is_take_ordered_not_global_sort(spark):
    df = spark.read.parquet(f"{SF}/events.parquet").orderBy(F.desc("ts")).limit(20)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan


def _routed(spark, **kw):
    from otel_kafka_pg_spark.plans.pipeline import build_routed
    from otel_kafka_pg_spark.sources.synth import load_or_synth_transcripts

    return build_routed(spark, spark.read.parquet(load_or_synth_transcripts(2000, seed=7)), **kw)


def test_pipeline_default_has_single_shuffle(spark):
    """The default flagship DAG has NO exchange before the sinks: scan →
    parse → broadcast enrich → classify → attributes is one narrow stage
    over the size-balanced scan splits. The ordering window's shuffle by
    conv_id computed a turn_seq no sink writes (sink IDs are
    content-derived), so it is not in the DAG; the round-1 pre-parse salted
    repartition stays an opt-in (salt_buckets>0). The only shuffle the
    default pipeline runs is sink_counts' partial aggregate
    (test_sink_plans_prune_the_ordering_window)."""
    plan = _plan(_routed(spark))
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan, f"default plan must not order turns:\n{plan}"
    assert "Exchange hashpartitioning" not in plan, f"default plan must not shuffle:\n{plan}"


def test_sink_plans_prune_the_ordering_window(spark):
    """The sinks are order-independent (content-derived IDs), so no sink
    job runs a window or a data shuffle — on the un-persisted single-sink
    resume path as on the cached fan-out, whose cache is the slim
    SINK_COLUMNS projection of the same exchange-free DAG. sink_counts
    keeps exactly its own partial-aggregate exchange."""
    from otel_kafka_pg_spark.operators.route import SINK_BUILDERS, SINK_COLUMNS, sink_counts

    routed = _routed(spark)
    for frame in (routed, routed.select(*SINK_COLUMNS)):
        for name, builder in SINK_BUILDERS.items():
            plan = _plan(builder(frame))
            assert "Window" not in plan, f"{name} sink must not execute a window:\n{plan}"
            assert "Exchange hashpartitioning" not in plan, name
        counts_plan = _plan(sink_counts(frame))
        assert "Window" not in counts_plan
        # counts keep exactly their own partial-agg exchange, nothing else
        assert counts_plan.count("Exchange hashpartitioning") == 1


def test_pipeline_salted_optin_adds_one_shuffle(spark):
    """salt_buckets>0 (for few-split or skew-laid-out sources) adds exactly
    the salted pre-parse exchange and nothing else."""
    plan = _plan(_routed(spark, salt_buckets=16))
    assert plan.count("BroadcastHashJoin") == 1
    assert "Window" not in plan
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"salted plan = the salted repartition only:\n{plan}"


def test_sink_columns_are_what_the_sinks_read(spark):
    """run_pipeline persists routed.select(*SINK_COLUMNS): every builder and
    sink_counts must resolve against that projection, and each column must
    be read by at least one of them (no dead weight in the cache)."""
    from otel_kafka_pg_spark.operators.route import SINK_BUILDERS, SINK_COLUMNS, sink_counts

    routed = _routed(spark)
    slim = routed.select(*SINK_COLUMNS)
    assert slim.columns == list(SINK_COLUMNS)
    assert {"text", "resource_attrs"} <= set(routed.columns) - set(SINK_COLUMNS)
    read = set()
    for builder in (*SINK_BUILDERS.values(), sink_counts):
        builder(slim).schema  # analysis fails if the builder reads a dropped column
        read |= {c for c in SINK_COLUMNS if _reads(builder, slim, c)}
    assert read == set(SINK_COLUMNS)


def _reads(builder, frame, col) -> bool:
    """Whether ``builder(frame)`` fails to analyse once ``col`` is dropped."""
    from pyspark.errors import AnalysisException

    try:
        builder(frame.drop(col)).schema
    except AnalysisException:
        return True
    return False


def test_persisted_frame_is_sink_columns(spark, tmp_path, monkeypatch):
    """The frame run_pipeline caches carries exactly SINK_COLUMNS — not the
    raw text or the resource map."""
    from otel_kafka_pg_spark.operators.route import SINK_COLUMNS
    from otel_kafka_pg_spark.plans.pipeline import run_pipeline
    from otel_kafka_pg_spark.sources.synth import load_or_synth_transcripts

    frame_cls = type(spark.range(1))  # the session's concrete DataFrame class
    persisted = []
    real_persist = frame_cls.persist

    def spy(self, *a, **kw):
        persisted.append(self.columns)
        return real_persist(self, *a, **kw)

    monkeypatch.setattr(frame_cls, "persist", spy)
    run_pipeline(spark, load_or_synth_transcripts(2000, seed=7), str(tmp_path / "out"), resume=False)
    assert persisted == [list(SINK_COLUMNS)]


def test_parse_stays_in_wholestage_codegen(spark):
    """Native parse must be inside a WholeStageCodegen span — no Python, no
    interpreted eval in the hot path."""
    from otel_kafka_pg_spark.functions.parse import parse_turns
    from otel_kafka_pg_spark.sources.synth import load_or_synth_transcripts

    df = parse_turns(spark.read.parquet(load_or_synth_transcripts(2000, seed=7)))
    plan = _plan(df)
    assert "*(" in plan  # codegen'd spans print as "*(<stage id>)"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_streaming_entry_points_parse_in_the_jvm(spark, tmp_path):
    """The streaming entry points run the same codegen parse as batch: no
    Python evaluation in the plan of either streaming frame."""
    from otel_kafka_pg_spark.sources.synth import load_or_synth_transcripts
    from otel_kafka_pg_spark.streaming.stream_pipeline import (
        stream_trace_log_join,
        streaming_severity_counts,
    )

    src = str(tmp_path / "src")
    spark.read.parquet(load_or_synth_transcripts(2000, seed=7)).write.parquet(src)
    for frame in (streaming_severity_counts(spark, src), stream_trace_log_join(spark, src)):
        plan = spark._jvm.PythonSQLUtils.explainString(frame._jdf.queryExecution(), "extended")
        assert "regexp_extract" in plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_salted_repartition_spreads_hot_conversation(spark):
    """Skew guard: a 4000-turn conversation must not land in one task.
    Hashing bare conv_id would put all its turns in a single partition;
    salting with pmod(hash(turn_idx), buckets) spreads it across ~buckets
    partitions while small conversations stay cheap."""
    import datetime as dt

    from otel_kafka_pg_spark.operators.order import salted_repartition
    from otel_kafka_pg_spark.schemas import TRANSCRIPTS

    ts = dt.datetime(2025, 1, 1)
    rows = [("hot", i, "user", "t", "bash", ts) for i in range(4000)]
    rows += [(f"c{j}", i, "user", "t", "bash", ts) for j in range(20) for i in range(5)]
    df = spark.createDataFrame(rows, TRANSCRIPTS)

    unsalted = df.repartition(8, F.col("conv_id"))
    hot_unsalted = (
        unsalted.filter(F.col("conv_id") == "hot")
        .groupBy(F.spark_partition_id())
        .count()
        .count()
    )
    assert hot_unsalted == 1  # the failure mode: one task owns the whole conv

    salted = salted_repartition(df, 8, salt_buckets=16)
    per_part = (
        salted.filter(F.col("conv_id") == "hot")
        .groupBy(F.spark_partition_id().alias("p"))
        .count()
        .collect()
    )
    assert len(per_part) >= 4  # spread across most of the 8 partitions
    assert max(r["count"] for r in per_part) < 4000 * 0.5  # no partition owns half


def test_sink_counts_single_shuffle(spark):
    from otel_kafka_pg_spark.operators.route import sink_counts
    from otel_kafka_pg_spark.plans.pipeline import build_routed
    from otel_kafka_pg_spark.sources.synth import load_or_synth_transcripts

    routed = build_routed(spark, spark.read.parquet(load_or_synth_transcripts(2000, seed=7)))
    plan = _plan(sink_counts(routed))
    assert "partial_count" in plan  # map-side combine before the one shuffle


def test_bucketed_join_is_exchange_free(spark, sf_dir, tmp_path):
    """Co-located join layout: two tables bucketed+sorted on the join key
    join with NO Exchange on either side (and no extra Sort) — the scale
    pattern that amortizes a repeated fact-to-fact shuffle into a one-time
    write layout. Guarded here so a bucketing regression (e.g. a cast on
    the key killing bucket matching) can't land silently."""
    from otel_kafka_pg_spark.plans.sinks import write_bucketed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey", "o_orderstatus")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_quantity")
    write_bucketed(orders, "b_orders", "o_orderkey", n_buckets=4)
    write_bucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem", "o_orderkey", n_buckets=4)
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # at test scale the planner would broadcast (and skip bucket reads
    # entirely); disable it to exercise the fact-to-fact SMJ shape this
    # layout exists for
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # co-located: no shuffle either side
        assert "Bucketed: true" in plan
        assert joined.count() == orders.join(li, orders.o_orderkey == li.l_orderkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_importance_ratio_reuses_corpus_exchange(spark):
    """ds1's raw distribution and per-doc sum consume the SAME
    groupBy(doc_id, bucket) pre-aggregation: with AQE off the static
    ReuseExchange rule must dedup the two identical subtrees (AQE's
    runtime stage cache keys on the same canonicalized plan, so this also
    proves the adaptive path scans the corpus once)."""
    from otel_kafka_pg_spark.operators.corpus import importance_ratio

    corpus = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} common") for i in range(50)],
        "doc_id long, text string",
    )
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = (
            importance_ratio(corpus, corpus.filter("doc_id < 10"))
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "ReusedExchange" in plan


def test_hash_split_and_quantize_are_shuffle_free(spark):
    """sp1/eq1 are pure per-row expression chains: any Exchange in their
    plans means someone broke the zero-shuffle contract SCALE.md records."""
    from otel_kafka_pg_spark.operators.corpus import hash_split
    from otel_kafka_pg_spark.operators.simsearch import quantize_embeddings

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    for df in (hash_split(docs), quantize_embeddings(emb)):
        assert "Exchange" not in _plan(df)


def test_zordered_write_plan_is_one_range_exchange(spark):
    """write_zordered's clustering cost at scale is exactly one range
    exchange (plus its sampling subquery) — never a hash shuffle and never
    a global Sort node outside the partition-local one."""
    from otel_kafka_pg_spark.plans.sinks import zvalue

    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "user_id")
    laid = (
        ev.withColumn("_z", zvalue(["user_id", "event_id"]))
        .repartitionByRange(6, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    plan = _plan(laid)
    assert plan.count("Exchange rangepartitioning") == 1
    assert "Exchange hashpartitioning" not in plan


def test_bpe_pair_mining_one_exchange_takeordered(spark):
    """bpe1's shuffle contract: the double explode partial-aggregates
    map-side, so exactly ONE hash exchange ships ≤ |alphabet|² rows per
    map partition, and the top-k is TakeOrdered — never a global sort."""
    from otel_kafka_pg_spark.operators.corpus import bpe_pair_mining

    df = bpe_pair_mining(spark.read.parquet(f"{SF}/documents.parquet"), k=50)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no global sort node


def test_heavy_hitters_total_is_broadcast_not_rescan(spark):
    """hh1 derives the corpus total by re-aggregating the counts frame and
    broadcasting the 1-row result — the documents scan must appear in the
    plan, but never a second shuffle of raw token occurrences for the
    total (the total's exchange is SinglePartition over already-agg'd
    rows)."""
    from otel_kafka_pg_spark.operators.corpus import heavy_hitters

    df = heavy_hitters(spark.read.parquet(f"{SF}/documents.parquet"))
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # token-level hash exchanges: one per aggregate consumer of the
    # exploded tokens (counts, and the total built on top) — never more
    assert plan.count("Exchange hashpartitioning") <= 2


def test_funnel_is_one_raw_event_exchange(spark):
    """fn1's shuffle contract: all three per-user first-arrival times are
    entire-partition window mins over the SAME partitionBy(user_id) spec,
    so the raw events cross exactly ONE hash exchange; everything after
    (per-user reduce, totals, stack) is a SinglePartition of tiny rows."""
    from otel_kafka_pg_spark.operators.behavior import funnel_conversion

    df = funnel_conversion(
        spark.read.parquet(f"{SF}/events.parquet"), ["signup", "click", "purchase"]
    )
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window ") == 3  # stacked on one partitioning, no re-shuffle


def test_entry_paths_group_limit_pushed_mapside(spark):
    """path1's scale story: the rn<=3 cut must appear as a PARTIAL
    WindowGroupLimit below the user shuffle (only <=k rows per user per
    task cross the wire), and the top-20 must be TakeOrdered, never a
    global sort."""
    from otel_kafka_pg_spark.operators.behavior import entry_paths

    df = entry_paths(spark.read.parquet(f"{SF}/events.parquet"), k=3, top_n=20)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange hashpartitioning") == 2  # user window, path count


def test_cohort_retention_no_unkeyed_join(spark):
    """rt1: the cohort dim joins back on user_id as a keyed (broadcast or
    hash) join — never a nested-loop/cartesian — and the grid agg stays
    keyed by (cohort_day, week_offset)."""
    from otel_kafka_pg_spark.operators.behavior import cohort_retention

    df = cohort_retention(spark.read.parquet(f"{SF}/events.parquet"))
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3  # dim agg + distinct expand + grid


def test_incremental_dedup_is_anti_join_on_fp(spark):
    """dd8's contract: the history side participates ONLY as an anti join
    on the 8-byte fingerprint — no text column crosses the join, so the
    shuffle payload is bounded by ids+hashes regardless of doc length."""
    from otel_kafka_pg_spark.functions.text import md5_60bit
    from otel_kafka_pg_spark.operators.dedup import incremental_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    seen = docs.filter(F.col("doc_id") < 250).select(md5_60bit(norm).alias("fp"))
    out = incremental_dedup(docs.filter(F.col("doc_id") >= 250), seen)
    plan = _plan(out)
    assert "LeftAnti" in plan
    assert "text" not in out.columns


def test_spike_hours_aggregates_before_window(spark):
    """az1's scale contract: the only fact-sized shuffle is the
    (event_type, hour) aggregate; the trailing window runs over the tiny
    bucketed frame (second keyed exchange on event_type). Exactly two
    hash exchanges, no global sort."""
    from otel_kafka_pg_spark.operators.aggregate import spike_hours

    df = spike_hours(spark.read.parquet(f"{SF}/events.parquet"))
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Exchange rangepartitioning" not in plan


def test_rolling_active_users_explodes_after_distinct(spark):
    """wau1's contract: the x7 contribution fan-out (Generate) must sit
    ABOVE the (user, day) distinct — exploding raw events first would
    multiply the fact table by the window size before deduping."""
    from otel_kafka_pg_spark.operators.behavior import rolling_active_users

    df = rolling_active_users(spark.read.parquet(f"{SF}/events.parquet"))
    plan = _plan(df)
    assert "Generate explode" in plan
    # top-down plan text: the Generate must appear before (above) the
    # bottom-most HashAggregate (the distinct's partial agg)
    assert plan.find("Generate explode") < plan.rfind("HashAggregate")
    assert plan.count("Exchange hashpartitioning") == 3  # distinct, expand, day agg


def test_affinity_self_join_is_keyed_over_distinct(spark):
    """mb1: the self-join runs over the distinct (user, type) frame with a
    keyed join — never a cartesian — and raw events shuffle only once
    (the distinct)."""
    from otel_kafka_pg_spark.operators.behavior import event_type_affinity

    df = event_type_affinity(spark.read.parquet(f"{SF}/events.parquet"))
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_length_buckets_default_has_no_window_no_global_sort(spark):
    """qb1's scale contract (the round-4 verdict's one perf-weak): the
    DEFAULT cut-point path is a percentile_approx sketch — partial-agg'd
    map-side, one SinglePartition exchange of O(accuracy) sketch buffers,
    broadcast probe — with NO Window and NO sort anywhere. The exact rank
    path (one-task global sort) exists only behind exact=True for
    oracle-scale verification."""
    from otel_kafka_pg_spark.operators.corpus import length_decile_buckets

    df = length_decile_buckets(spark.read.parquet(f"{SF}/documents.parquet"))
    plan = _plan(df)
    assert "Window" not in plan
    assert "Sort " not in plan and "Exchange rangepartitioning" not in plan
    assert "partial_percentile_approx" in plan  # map-side sketch
    assert "BroadcastExchange" in plan  # cuts probe side
    # the exact path is the one allowed to sort; it must still carry the
    # single-column projection (sorts n longs, not whole docs)
    exact_plan = _plan(length_decile_buckets(spark.read.parquet(f"{SF}/documents.parquet"), exact=True))
    assert "Window" in exact_plan
