"""``query_events`` — one request's four statements over one shared filter,
each built only when its key is first read."""

from __future__ import annotations

from collections.abc import Mapping

import pytest

from otel_kafka_pg_spark.operators import aggregate as agg

# statement name → the builder ``query_events`` calls for it, in key order
BUILDERS = {
    "page": "page_events",
    "service_counts": "service_counts",
    "severity_counts": "severity_counts_ranked",
    "total": "total_count",
}
FLT = agg.EventFilter(types_in=["click", "view"], min_value=5.0)


def _request(spark, sf_dir):
    return agg.query_events(spark.read.parquet(f"{sf_dir}/events.parquet"), FLT)


def test_keys_order_and_len(spark, sf_dir):
    req = _request(spark, sf_dir)
    assert isinstance(req, Mapping)
    assert list(req) == list(BUILDERS) and len(req) == 4
    with pytest.raises(TypeError):  # read-only
        req["page"] = req["total"]


@pytest.mark.parametrize("name", list(BUILDERS))
def test_reading_one_key_builds_only_that_statement(spark, sf_dir, monkeypatch, name):
    def unread(*_a, **_k):
        raise AssertionError("built a statement that was not read")

    for other, fn in BUILDERS.items():
        if other != name:
            monkeypatch.setattr(agg, fn, unread)
    req = _request(spark, sf_dir)
    assert req[name].columns  # built, and nothing else was


def test_second_read_returns_the_same_frame(spark, sf_dir):
    req = _request(spark, sf_dir)
    for name in BUILDERS:
        assert req[name] is req[name]


def test_severity_statement_has_no_range_partitioning(spark, sf_dir):
    # at most one row per type: sorted in one partition, so no sampling job
    # and no range exchange (AQE: the final plan exists after execution)
    df = _request(spark, sf_dir)["severity_counts"]
    ranks = [r["sev_rank"] for r in df.collect()]
    assert ranks == sorted(ranks)
    assert "rangepartitioning" not in df._jdf.queryExecution().executedPlan().toString()
