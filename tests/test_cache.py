"""Result-cache analog tests (reference middleware/cache.go:38-169): keyed
reuse, canonical key scheme, cache-hit plan (no source scan, no Spark job),
failed builds, TTL expiry, prefix invalidation, concurrent requests."""

from __future__ import annotations

import sys
import threading

import pytest
from pyspark.sql import functions as F

from otel_kafka_pg_spark.plans import cache as cache_mod
from otel_kafka_pg_spark.plans.cache import ResultCache, cache_key


def _build_fn(spark, sf_dir, calls):
    def build():
        calls.append(1)
        return (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    return build


def test_key_is_param_order_insensitive():
    a = cache_key("q", {"x": 1, "y": [2, 3]})
    b = cache_key("q", {"y": [2, 3], "x": 1})
    assert a == b and a.startswith("cache:q:") and len(a.split(":")[2]) == 16
    assert cache_key("q", {"x": 2, "y": [2, 3]}) != a


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


def test_second_request_served_from_cache(spark, sf_dir):
    calls = []
    cache = ResultCache()
    build = _build_fn(spark, sf_dir, calls)
    (df1, hit1), miss_jobs = _jobs_run_by(spark, "cache-miss", lambda: cache.get_or_build("svc", {"k": 1}, build))
    df2, hit2 = cache.get_or_build("svc", {"k": 1}, build)
    assert (not hit1) and hit2
    assert len(calls) == 1  # build ran once — the reference's cache-hit path
    assert miss_jobs >= 1  # the miss collected the plan (and the counter sees jobs)
    # the hit's plan is the collected rows, not the parquet source
    plan = df2._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "FileScan" not in plan
    rows, hit_jobs = _jobs_run_by(spark, "cache-hit", df2.collect)
    assert hit_jobs == 0  # a hit is answered without running a Spark job
    expected = build().collect()
    assert sorted(rows) == sorted(expected)
    assert df2.schema == build().schema  # exact types and nullability
    cache.invalidate()


def test_failed_build_stores_nothing(spark, sf_dir):
    calls = []
    cache = ResultCache()

    def bad_build():
        calls.append(1)
        return spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
            "assert_true(event_id < 0, 'planted failure') AS x"
        )

    with pytest.raises(Exception, match="planted failure"):
        cache.get_or_build("svc", {"k": 1}, bad_build)
    assert cache.invalidate() == 0  # nothing was stored
    good = _build_fn(spark, sf_dir, calls)
    _, hit = cache.get_or_build("svc", {"k": 1}, good)
    assert not hit and len(calls) == 2  # the next call rebuilds
    cache.invalidate()


def test_ttl_expiry_rebuilds(spark, sf_dir):
    calls = []
    cache = ResultCache(ttl_s=0.0)  # everything expires immediately
    build = _build_fn(spark, sf_dir, calls)
    _, hit1 = cache.get_or_build("svc", {"k": 1}, build)
    _, hit2 = cache.get_or_build("svc", {"k": 1}, build)
    assert not hit1 and not hit2 and len(calls) == 2
    cache.invalidate()


def test_prefix_invalidation(spark, sf_dir):
    calls = []
    cache = ResultCache()
    build = _build_fn(spark, sf_dir, calls)
    cache.get_or_build("svc", {"k": 1}, build)
    cache.get_or_build("svc", {"k": 2}, build)
    cache.get_or_build("other", {"k": 1}, build)
    assert cache.invalidate("cache:svc:") == 2  # one request family dropped
    _, hit = cache.get_or_build("other", {"k": 1}, build)
    assert hit  # untouched family still cached
    assert cache.invalidate() == 1


def test_concurrent_requests_with_expiring_entries(monkeypatch):
    # Spark-free: the collect is stubbed, so only the entry map is exercised.
    # Tiny TTL + a tiny switch interval make threads purge, insert and
    # invalidate while others iterate the same map.
    monkeypatch.setattr(cache_mod, "_collected", lambda df: df)
    cache = ResultCache(ttl_s=5e-4)
    n_threads, n_calls = 8, 2000
    errors = []

    def client(t):
        try:
            for i in range(n_calls):
                cache.get_or_build("svc", {"k": (t * 7919 + i) % 500}, lambda: object())
                if i % 997 == 0:
                    cache.invalidate("cache:svc:")
        except Exception as e:  # noqa: BLE001 — any failure is the finding
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client, args=(t,)) for t in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert cache.hits + cache.misses == n_threads * n_calls  # no lost count
