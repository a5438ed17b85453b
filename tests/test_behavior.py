"""Behavioral-analytics semantics probes: funnel strictness at the ts
boundary, cohort week bucketing at the 7-day edge, short-user entry paths.
(The sf0.01 DuckDB differential in test_oracle_differential.py covers the
bulk semantics; these plant adversarial rows the synthetic data may never
hit.)"""

from __future__ import annotations

import datetime as dt

from otel_kafka_pg_spark.operators.behavior import cohort_retention, entry_paths, funnel_conversion

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string"
    )


def test_funnel_boundary_is_strict(spark):
    rows = [
        # user 1: click at the EXACT signup timestamp — must NOT advance
        (1, T0, 1, "signup"),
        (2, T0, 1, "click"),
        # user 2: proper ordered chain signup < click < purchase
        (3, T0, 2, "signup"),
        (4, T0 + dt.timedelta(seconds=1), 2, "click"),
        (5, T0 + dt.timedelta(seconds=2), 2, "purchase"),
        # user 3: purchase BEFORE the click — step 3 not reached
        (6, T0, 3, "signup"),
        (7, T0 + dt.timedelta(seconds=5), 3, "purchase"),
        (8, T0 + dt.timedelta(seconds=9), 3, "click"),
        # user 4: never signs up — contributes to no step
        (9, T0, 4, "click"),
        (10, T0 + dt.timedelta(seconds=1), 4, "purchase"),
    ]
    out = {r["step"]: r for r in funnel_conversion(_ev(spark, rows), ["signup", "click", "purchase"]).collect()}
    assert out["signup"]["users"] == 3
    assert out["click"]["users"] == 2  # users 2 and 3; user 1's tie is rejected
    assert out["purchase"]["users"] == 1  # only user 2 ordered correctly
    assert out["purchase"]["conversion"] == 1 / 3


def test_cohort_week_edge(spark):
    rows = [
        # user 1 first seen Jan 1; active day 6 (week 0) and day 7 (week 1)
        (1, T0, 1, "view"),
        (2, T0 + dt.timedelta(days=6, hours=23), 1, "view"),
        (3, T0 + dt.timedelta(days=7), 1, "view"),
        # user 2 joins the same cohort day, active only at signup
        (4, T0 + dt.timedelta(hours=5), 2, "view"),
    ]
    grid = {
        (r["cohort_day"].day, r["week_offset"]): r["active_users"]
        for r in cohort_retention(_ev(spark, rows)).collect()
    }
    assert grid[(1, 0)] == 2  # both users active in week 0
    assert grid[(1, 1)] == 1  # exactly day 7 rolls into week 1


def test_entry_paths_short_users_and_ties(spark):
    rows = [
        (1, T0, 1, "signup"),
        (2, T0 + dt.timedelta(seconds=1), 1, "click"),
        (3, T0 + dt.timedelta(seconds=2), 1, "purchase"),
        (4, T0 + dt.timedelta(seconds=3), 1, "error"),  # 4th event ignored (k=3)
        (5, T0, 2, "signup"),  # short user: 1-event path
        # user 3: two events at the SAME ts — event_id breaks the tie
        (7, T0, 3, "view"),
        (6, T0, 3, "click"),
    ]
    out = {r["path"]: r["n_users"] for r in entry_paths(_ev(spark, rows), k=3).collect()}
    assert out == {"signup>click>purchase": 1, "signup": 1, "click>view": 1}


def test_spike_hours_boundary_and_flatline(spark):
    from otel_kafka_pg_spark.operators.aggregate import spike_hours

    rows = []
    eid = 0
    # 6 flat history hours at 10 events, then an hour at 11: flatline
    # convention — zero variance, any increase is a spike
    for h in range(6):
        for _ in range(10):
            rows.append((eid, T0 + dt.timedelta(hours=h), 1, "error")); eid += 1
    for _ in range(11):
        rows.append((eid, T0 + dt.timedelta(hours=6), 1, "error")); eid += 1
    # a second series with real variance: history 8,12,8,12,8,12
    # (mean 10, pop-var 4, sigma 2) -> 16 is exactly z=3: strict >, NOT a
    # spike; 17 (z=3.5) is
    for h, c in enumerate([8, 12, 8, 12, 8, 12, 16]):
        for _ in range(c):
            rows.append((eid, T0 + dt.timedelta(hours=h), 1, "view")); eid += 1
    for h, c in enumerate([8, 12, 8, 12, 8, 12, 17]):
        for _ in range(c):
            rows.append((eid, T0 + dt.timedelta(hours=h), 1, "click")); eid += 1
    ev = _ev(spark, rows)
    out = {(r["event_type"], r["hour"].hour): r["spike"] for r in spike_hours(ev).collect()}
    assert out[("error", 6)] == 1  # flatline increase
    assert out[("error", 5)] == 0  # inside flat history
    assert out[("view", 6)] == 0   # z == 3 exactly: strict threshold
    assert out[("click", 6)] == 1  # z = 3.5
    assert out[("view", 0)] == 0   # n_hist < 3: never flags


def test_approx_distinct_error_bound(spark):
    """cd1's quality contract (rows-only at the driver): HLL++ at rsd=0.02
    stays within 5% relative error of the exact distinct count per group
    on the sf0.01 events table."""
    import os

    from otel_kafka_pg_spark.queries import REGISTRY

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_CORRECTNESS", "/root/testdata/sf0.01")
    fn, sql = REGISTRY["cd1_approx_distinct"]
    assert sql is None  # rows-only by design, never silently "oracled"
    for r in fn(spark, sf_dir).collect():
        assert abs(r["approx_users"] - r["exact_users"]) <= 0.05 * r["exact_users"], r


def test_rolling_active_users_window_edges(spark):
    from otel_kafka_pg_spark.operators.behavior import rolling_active_users

    rows = [
        (1, T0, 1, "view"),                           # user 1 active day 0 only
        (2, T0 + dt.timedelta(days=3), 2, "view"),    # user 2 active day 3
        (3, T0 + dt.timedelta(days=3, hours=4), 2, "click"),  # same day: counted once
    ]
    out = {
        (r["report_day"] - T0).days: r["active_users"]
        for r in rolling_active_users(_ev(spark, rows), window_days=7).collect()
    }
    assert out[0] == 1 and out[3] == 2  # both users active in day-3's trailing week
    assert out[6] == 2                  # day-0 activity still counts on day 6
    assert out[7] == 1                  # ... but ages out on day 7
    assert out[9] == 1 and max(out) == 9  # day-3 activity serves through day 9


def test_event_type_affinity_unordered_distinct(spark):
    from otel_kafka_pg_spark.operators.behavior import event_type_affinity

    rows = [
        (1, T0, 1, "click"),
        (2, T0, 1, "view"),
        (3, T0, 1, "view"),   # repeat: still ONE (click,view) pair for user 1
        (4, T0, 2, "view"),
        (5, T0, 2, "click"),  # order of occurrence irrelevant: same unordered pair
        (6, T0, 3, "click"),  # single-type user contributes no pair
    ]
    out = {(r["type_a"], r["type_b"]): r["n_users"] for r in event_type_affinity(_ev(spark, rows)).collect()}
    assert out == {("click", "view"): 2}


def test_transition_matrix_respects_user_boundary(spark):
    from otel_kafka_pg_spark.operators.behavior import transition_matrix

    rows = [
        (1, T0, 1, "signup"),
        (2, T0 + dt.timedelta(seconds=1), 1, "click"),
        # user 2 starts with "purchase": NO click->purchase transition may
        # leak across the user boundary
        (3, T0 + dt.timedelta(seconds=2), 2, "purchase"),
        (4, T0 + dt.timedelta(seconds=3), 2, "view"),
    ]
    out = {
        (r["from_type"], r["to_type"]): r["n_transitions"]
        for r in transition_matrix(_ev(spark, rows)).collect()
    }
    assert out == {("signup", "click"): 1, ("purchase", "view"): 1}


def test_hot_keys_flag_boundary(spark):
    from otel_kafka_pg_spark.operators.behavior import hot_keys

    # 100 rows total: user 1 has exactly 2 (2% == the 20-per-mille
    # threshold: >= makes it hot), user 2 has 1 (cold), user 3 has 97
    rows = []
    eid = 0
    for u, cnt in [(1, 2), (2, 1), (3, 97)]:
        for _ in range(cnt):
            rows.append((eid, T0, u, "view")); eid += 1
    out = {r["key"]: (r["n"], r["hot"]) for r in hot_keys(_ev(spark, rows)).collect()}
    assert out[3] == (97, 1)
    assert out[1] == (2, 1)   # boundary: exactly at threshold is hot
    assert out[2] == (1, 0)


def test_conversion_percentiles_rank_semantics(spark):
    from otel_kafka_pg_spark.operators.behavior import conversion_time_percentiles

    # 4 converting users with deltas 10, 20, 20, 40 seconds (ties included)
    # p50 -> rank ceil(0.5*4)=2 -> 20; p90 -> rank ceil(0.9*4)=4 -> 40
    rows = []
    eid = 0
    for u, delta in [(1, 10), (2, 20), (3, 20), (4, 40)]:
        rows.append((eid, T0, u, "signup")); eid += 1
        rows.append((eid, T0 + dt.timedelta(seconds=delta), u, "purchase")); eid += 1
    rows.append((eid, T0, 9, "signup"))  # non-converting user: excluded
    out = {r["pct"]: r["seconds"] for r in conversion_time_percentiles(_ev(spark, rows)).collect()}
    assert out == {50: 20, 90: 40}


def test_ab_arm_intent_to_treat(spark):
    from otel_kafka_pg_spark.operators.behavior import ab_arm_conversion

    rows = [
        (1, T0, 1, "signup"),
        (2, T0, 1, "purchase"),
        (3, T0, 2, "purchase"),  # converted WITHOUT entering: must not count
        (4, T0, 3, "signup"),
    ]
    out = ab_arm_conversion(_ev(spark, rows)).collect()
    assert sum(r["entered"] for r in out) == 2
    assert sum(r["converted"] for r in out) == 1
    # determinism: arms are a pure function of user_id
    again = ab_arm_conversion(_ev(spark, rows)).collect()
    assert sorted(map(str, out)) == sorted(map(str, again))


def test_rfm_anchor_and_integer_cents(spark):
    from otel_kafka_pg_spark.operators.behavior import rfm_features

    rows = [
        (1, T0, 1, "view", 1.25),
        (2, T0 + dt.timedelta(days=3), 1, "view", 2.50),   # user 1 last seen day 3
        (3, T0 + dt.timedelta(days=10), 2, "view", 0.10),  # anchor = day 10
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    )
    out = {r["user_id"]: r for r in rfm_features(ev).collect()}
    assert out[1]["recency_days"] == 7 and out[1]["frequency"] == 2
    assert out[1]["monetary_cents"] == 375  # 125 + 250, exact integers
    assert out[2]["recency_days"] == 0 and out[2]["monetary_cents"] == 10


def test_calendar_profile_iso_weekday(spark):
    from otel_kafka_pg_spark.operators.behavior import calendar_profile

    # 2024-01-01 is a MONDAY: isodow must be 1
    rows = [(1, dt.datetime(2024, 1, 1, 13, 5), 1, "view"),
            (2, dt.datetime(2024, 1, 7, 23, 59), 1, "view")]  # Sunday -> 7
    out = {(r["isodow"], r["hour"]): r["n"] for r in calendar_profile(_ev(spark, rows)).collect()}
    assert out == {(1, 13): 1, (7, 23): 1}


def test_funnel_zero_base_yields_null_not_crash(spark):
    """ANSI regression (review finding): a slice with users but NO step-1
    events must produce users=0 rows with NULL conversion — the oracle's
    0/0 result — not a DIVIDE_BY_ZERO crash."""
    from otel_kafka_pg_spark.operators.behavior import funnel_conversion

    rows = [(1, T0, 1, "click"), (2, T0, 2, "view")]
    out = {r["step"]: r for r in funnel_conversion(_ev(spark, rows), ["signup", "click", "purchase"]).collect()}
    assert all(out[s]["users"] == 0 for s in ("signup", "click", "purchase"))
    assert all(out[s]["conversion"] is None for s in ("signup", "click", "purchase"))


def test_funnel_quoted_step_name(spark):
    """Review finding: step names are data-domain strings — one containing
    a quote must not break (or inject into) the plan."""
    from otel_kafka_pg_spark.operators.behavior import funnel_conversion

    rows = [(1, T0, 1, "add'l_step")]
    out = funnel_conversion(_ev(spark, rows), ["add'l_step"]).collect()
    assert len(out) == 1 and out[0]["step"] == "add'l_step" and out[0]["users"] == 1


def test_ab_arm_zero_entered_yields_null(spark):
    """ANSI regression: an arm with zero entered users reads conversion
    NULL, never DIVIDE_BY_ZERO. user_ids chosen so the md5 arms differ."""
    from otel_kafka_pg_spark.operators.behavior import ab_arm_conversion

    # find two user ids hashing to different arms, one arm signup-free
    rows = [(1, T0, 1, "signup"), (2, T0, 1, "purchase")] + [
        (10 + u, T0, u, "purchase") for u in range(2, 12)
    ]
    out = ab_arm_conversion(_ev(spark, rows)).collect()
    assert len(out) >= 1
    for r in out:
        if r["entered"] == 0:
            assert r["conversion"] is None and r["converted"] == 0


def test_spike_score_no_overflow_at_web_scale_counts(spark):
    """ANSI regression (review finding): hourly counts ~5e8 made the
    BIGINT z-test squares overflow; the decimal(38,0) form must score
    them exactly. History 5e8 ±2e6 (mean 5e8, sigma 2e6): 5.07e8 is
    z=3.5 -> spike; 5.006e8 is z=3 exactly -> strict, no spike."""
    from otel_kafka_pg_spark.operators.aggregate import spike_score

    base, amp = 500_000_000, 2_000_000
    hist = [base - amp, base + amp, base - amp, base + amp, base - amp, base + amp]
    rows = [("error", T0 + dt.timedelta(hours=h), c) for h, c in enumerate(hist)]
    rows.append(("error", T0 + dt.timedelta(hours=6), base + 7 * 10**6))   # z=3.5
    rows.append(("view", T0, 10**18))  # single giant bucket: no history, no flag
    hourly = spark.createDataFrame(rows, "event_type string, hour timestamp_ntz, cnt long")
    out = {(r["event_type"], r["hour"].hour): r["spike"] for r in spike_score(hourly).collect()}
    assert out[("error", 6)] == 1
    assert out[("view", 0)] == 0
    # boundary at exactly z=3: (n*x-s1)^2 == 9*(n*s2-s1^2) -> strict, cold
    rows2 = [("a", T0 + dt.timedelta(hours=h), c) for h, c in enumerate(hist)]
    rows2.append(("a", T0 + dt.timedelta(hours=6), base + 6 * 10**6))  # z=3.0
    hourly2 = spark.createDataFrame(rows2, "event_type string, hour timestamp_ntz, cnt long")
    out2 = {r["hour"].hour: r["spike"] for r in spike_score(hourly2).collect()}
    assert out2[6] == 0
