"""``query_events`` — one request's four statements over one shared filter,
each built only when its key is first read. The page is a lazy plan; the
service, severity and total statements are local frames derived from one
count pass, remembered per table frame and filter."""

from __future__ import annotations

import gc
import weakref
from collections import Counter
from collections.abc import Mapping
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from otel_kafka_pg_spark.operators import aggregate as agg
from otel_kafka_pg_spark.plans.cache import ResultCache

NAMES = ["page", "service_counts", "severity_counts", "total"]
COUNT_NAMES = NAMES[1:]
# the function that derives each count statement from the count pass
DERIVERS = {"service_counts": "_service_frame", "severity_counts": "_severity_frame", "total": "_total_frame"}
FLT = agg.EventFilter(types_in=["click", "view"], min_value=5.0)


def _events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _request(spark, sf_dir):
    return agg.query_events(_events(spark, sf_dir), FLT)


def _jobs_run_by(spark, group: str, fn) -> tuple[object, int]:
    """(fn(), number of Spark jobs it ran), counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def count_passes(monkeypatch):
    """Counts the count passes run (memo misses) while the test runs."""
    calls = []
    real = agg.count_pass

    def counted(df):
        calls.append(1)
        return real(df)

    monkeypatch.setattr(agg, "count_pass", counted)
    return calls


def test_keys_order_and_len(spark, sf_dir):
    req = _request(spark, sf_dir)
    assert isinstance(req, Mapping)
    assert list(req) == NAMES and len(req) == 4
    with pytest.raises(TypeError):  # read-only
        req["page"] = req["total"]


@pytest.mark.parametrize("name", NAMES)
def test_reading_one_key_builds_only_that_statement(spark, sf_dir, monkeypatch, count_passes, name):
    def unread(*_a, **_k):
        raise AssertionError("built a statement that was not read")

    if name != "page":
        monkeypatch.setattr(agg, "page_events", unread)
    for other, fn in DERIVERS.items():
        if other != name:
            monkeypatch.setattr(agg, fn, unread)
    req = _request(spark, sf_dir)
    assert req[name].columns  # built, and nothing else was
    # the page never counts; a count statement counts once
    assert len(count_passes) == (0 if name == "page" else 1)


def test_second_read_returns_the_same_frame(spark, sf_dir):
    req = _request(spark, sf_dir)
    for name in NAMES:
        assert req[name] is req[name]


def test_severity_statement_has_no_range_partitioning(spark, sf_dir):
    # the statement is a local frame over the count pass's rows; the count
    # pass itself is one hash aggregate with no sort and no range exchange
    # (AQE: the final plan exists after execution)
    df = _request(spark, sf_dir)["severity_counts"]
    ranks = [r["sev_rank"] for r in df.collect()]
    assert ranks == sorted(ranks)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "FileScan" not in plan and "Exchange" not in plan
    count_plan = agg.type_count_plan(agg.build_event_filter(_events(spark, sf_dir), FLT))
    count_plan.collect()
    final = count_plan._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "rangepartitioning" not in final and "Sort" not in final
    assert final.count("hashpartitioning") == 1 and final.count("HashAggregate") == 2  # partial + final


# --- the derived statements equal the lazy plans they replace ----------------


def _ref_rank():
    rank = None
    for name, r in agg.SEVERITY_RANK_CASE.items():
        cond = F.col("event_type") == name
        rank = F.when(cond, r) if rank is None else rank.when(cond, r)
    return rank.otherwise(6)


def _ref_counts(df):
    return df.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))


# the statements as lazy Spark plans, as they were before the count pass
REFERENCE = {
    "service_counts": lambda df: _ref_counts(df).orderBy(F.desc("cnt"), F.col("event_type")).limit(20),
    "severity_counts": lambda df: (
        _ref_counts(df).withColumn("sev_rank", _ref_rank()).coalesce(1).orderBy("sev_rank")
    ),
    "total": lambda df: df.agg(F.count(F.lit(1)).alias("total")),
}
PUBLIC = {"service_counts": "service_counts", "severity_counts": "severity_counts_ranked", "total": "total_count"}

EVENTS_DDL = "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"


def _synthetic(spark, type_counts: dict):
    """An events-shaped frame with ``n`` rows of each type (None: NULL)."""
    rows, i = [], 0
    for t, n in type_counts.items():
        for _ in range(n):
            rows.append((i, datetime(2024, 1, 1), i % 7, t, float(i % 10), "p"))
            i += 1
    return spark.createDataFrame(rows, EVENTS_DDL)


CASES = {
    "filter": lambda spark, sf_dir: (_events(spark, sf_dir), FLT),
    "empty": lambda spark, sf_dir: (_events(spark, sf_dir), agg.EventFilter(type_eq="no-such-type")),
    "null_type": lambda spark, _: (_synthetic(spark, {None: 3, "error": 2, "view": 5}), agg.EventFilter()),
    "cnt_ties": lambda spark, _: (
        _synthetic(spark, {"view": 4, "click": 4, "error": 4, "b": 2, "a": 2, None: 2}),
        agg.EventFilter(),
    ),
    "over_20_types": lambda spark, _: (
        _synthetic(spark, {f"t{i:02d}": 1 + i % 4 for i in range(27)} | {"error": 3, None: 1}),
        agg.EventFilter(min_value=1.0),
    ),
    "outside_ladder": lambda spark, _: (
        _synthetic(spark, {"zeta": 2, "alpha": 2, "Error": 1, "": 1, "purchase": 3, "signup": 1}),
        agg.EventFilter(),
    ),
}


def _by_rank(rows) -> list[tuple]:
    # the reference plan orders by sev_rank only: ties come in aggregate
    # order, so a rank's rows compare as a set
    ranks = sorted({r["sev_rank"] for r in rows})
    return [(rank, Counter(tuple(r) for r in rows if r["sev_rank"] == rank)) for rank in ranks]


@pytest.mark.parametrize("via", ["query_events", "public_functions"])
@pytest.mark.parametrize("case", list(CASES))
def test_derived_statements_equal_the_lazy_plans(spark, sf_dir, case, via):
    df, flt = CASES[case](spark, sf_dir)
    if via == "query_events":
        req = agg.query_events(df, flt)
    else:
        f = agg.build_event_filter(df, flt)
        req = {name: getattr(agg, PUBLIC[name])(f) for name in COUNT_NAMES}
    for name in COUNT_NAMES:
        ref = REFERENCE[name](agg.build_event_filter(df, flt))
        got, want = req[name].collect(), ref.collect()
        assert req[name].schema == ref.schema, name
        assert req[name]._jdf.schema().json() == ref._jdf.schema().json(), name  # the JVM's view too
        if name == "severity_counts":
            assert [r["sev_rank"] for r in got] == [r["sev_rank"] for r in want]
            assert _by_rank(got) == _by_rank(want)
            # ties in rank break by type, NULL first
            assert got == sorted(got, key=lambda r: (r["sev_rank"], r["event_type"] is not None, r["event_type"] or ""))
        else:
            assert got == want, name
    if case == "empty":
        assert req["total"].collect()[0]["total"] == 0
        assert req["service_counts"].collect() == [] and req["severity_counts"].collect() == []
    if case == "over_20_types":
        assert len(req["service_counts"].collect()) == 20


# --- one count pass per request ----------------------------------------------


def _executions(spark) -> list[tuple[int, str]]:
    """(id, physical plan) of the latest SQL executions (actions)."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList(max(0, store.executionsCount() - 50), 50)
    return [(e.executionId(), e.physicalPlanDescription()) for e in map(execs.apply, range(execs.size()))]


def _serve(cache, events, req: dict) -> dict:
    """One log request the way a per-statement handler serves it: one
    ``query_events`` call per statement, each through the response cache."""
    out = {}
    for name in NAMES:
        def build(name=name):
            return agg.query_events(events, agg.EventFilter(**req["filter"]), req["sort"], True, 20)[name]

        df, _ = cache.get_or_build(name, req, build)
        out[name] = df
    return out


def test_new_request_runs_two_actions_and_at_most_three_jobs(spark, sf_dir):
    cache = ResultCache()
    events = _events(spark, sf_dir)
    req = {"filter": {"types_in": ["click", "view"], "min_value": 5.0}, "sort": "time"}
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    last = max((i for i, _ in _executions(spark)), default=-1)
    out, jobs = _jobs_run_by(spark, "new-log-request", lambda: _serve(cache, events, req))
    scans = [plan for i, plan in _executions(spark) if i > last and "Scan parquet" in plan]
    assert len(scans) == 2  # the page and the count pass
    assert 2 <= jobs <= 3
    for name in COUNT_NAMES:
        _, n = _jobs_run_by(spark, f"collect-{name}", out[name].collect)
        assert n == 0, name
    # a repeat request is served from the cache without a Spark job
    again, repeat_jobs = _jobs_run_by(
        spark, "repeat-log-request", lambda: {k: v.collect() for k, v in _serve(cache, events, req).items()}
    )
    assert repeat_jobs == 0 and cache.hits == 4
    assert again["total"][0]["total"] == sum(r["cnt"] for r in again["severity_counts"])
    cache.invalidate()


def test_count_pass_is_shared_until_the_filter_frame_or_cache_changes(spark, sf_dir, count_passes):
    events = _events(spark, sf_dir)
    agg.query_events(events, FLT)["total"]
    # same frame, equal filter, other sort and paging: remembered
    agg.query_events(events, agg.EventFilter(types_in=["click", "view"], min_value=5.0), "value", False, 5, 3)[
        "service_counts"
    ]
    assert len(count_passes) == 1
    agg.query_events(events, agg.EventFilter(types_in=["click"], min_value=5.0))["total"]
    assert len(count_passes) == 2  # a different filter recounts
    agg.query_events(_events(spark, sf_dir), FLT)["total"]
    assert len(count_passes) == 3  # a different frame recounts
    agg.query_events(events, FLT)["severity_counts"]
    assert len(count_passes) == 4  # the memo keeps only the latest filter per frame
    ResultCache().invalidate()
    agg.query_events(events, FLT)["severity_counts"]
    assert len(count_passes) == 5  # invalidation drops the memo


def test_memo_entry_dies_with_its_frame(spark, sf_dir):
    def request_on_a_new_frame():
        events = _events(spark, sf_dir)
        agg.query_events(events, FLT)["total"].collect()
        assert events in agg._COUNTS
        return weakref.ref(events)

    gc.collect()
    before = len(agg._COUNTS)
    ref = request_on_a_new_frame()
    gc.collect()
    assert ref() is None and len(agg._COUNTS) == before
