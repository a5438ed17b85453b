"""Third-opinion oracles: pure-Python/pandas reimplementations of ten
driver-window entries, independent of BOTH engines.

The DuckDB differential catches a Spark bug; it cannot catch a SHARED
misunderstanding — the same wrong formula encoded in the Spark operator
and its oracle SQL by the same author. These twins rebuild pm1 (quantized
PMI collocations), ds1 (DSIR importance ratios), sm2 (mixture sample),
sp1 (hash split), cal1 (calendar profile), rt1 (cohort retention), w4
(session window), sv1 (conversion-time percentiles), fe1 (RFM features)
and tx1 (text normalization) from their published definitions with
Python ints (arbitrary precision, exact floor division) and hashlib md5
— no Spark, no DuckDB — and assert equality with the engine output at
driver scale.

Faithfulness note: Spark tokenizes via split(trim(lower(text)), '\\s+')
with Java's ASCII \\s; the sf0.01 corpus is verified all-ASCII (asserted
below), so Python's re.split on the same ASCII class is exact — the
third opinion targets the counting/arithmetic where a shared bug would
live, on the same token stream all three implementations agree on.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

import pandas as pd
import pytest

from otel_kafka_pg_spark.queries import all_queries

_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _tokens(text: str) -> list[str]:
    return [t for t in _WS.split(text.strip().lower()) if t != ""]


@pytest.fixture(scope="module")
def docs(sf_dir):
    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet")
    assert pdf["text"].map(lambda s: s.isascii()).all(), (
        "corpus grew non-ASCII text — re-derive the tokenizer equivalence "
        "before trusting this third opinion"
    )
    return pdf


def test_pm1_pmi_collocations_pandas_third_opinion(spark, sf_dir, docs):
    k, min_count = 50, 5
    uni: Counter = Counter()
    pairs: Counter = Counter()
    for text in docs["text"]:
        toks = _tokens(text)
        uni.update(toks)
        if len(toks) >= 2:
            pairs.update(zip(toks, toks[1:]))
    n_tokens = sum(uni.values())
    rows = []
    for (w1, w2), c12 in pairs.items():
        if c12 < min_count:
            continue
        c1, c2 = uni[w1], uni[w2]
        rows.append((w1, w2, c12, c1, c2, (c12 * n_tokens * 1000) // (c1 * c2)))
    rows.sort(key=lambda r: (-r[5], r[0], r[1]))
    expected = rows[:k]

    got = all_queries()["pm1_pmi_collocations"](spark, sf_dir).collect()
    assert [tuple(r) for r in got] == expected


def test_ds1_importance_ratio_pandas_third_opinion(spark, sf_dir, docs):
    n_buckets = 1024

    def bucket(tok: str) -> int:
        # functions/text.py:md5_60bit — first 15 hex digits → 60-bit int
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % n_buckets

    per_doc: dict[int, Counter] = {}
    c_r: Counter = Counter()
    c_t: Counter = Counter()
    for doc_id, text, lang in zip(docs["doc_id"], docs["text"], docs["lang"]):
        bs = [bucket(t) for t in _tokens(text)]
        if not bs:
            continue  # no token rows → doc absent from the grouped frame
        per_doc[doc_id] = Counter(bs)
        c_r.update(bs)
        if lang == "en":
            c_t.update(bs)
    expected = {}
    for doc_id, cnt in per_doc.items():
        n_toks = sum(cnt.values())
        s_t = sum(n * (c_t.get(b, 0) + 1) for b, n in cnt.items())
        s_r = sum(n * (c_r[b] + 1) for b, n in cnt.items())
        # Python round() is banker's, Spark F.round is HALF_UP: they only
        # differ on exact .5 midpoints at the 7th digit, which the integer
        # quotients here never hit (an actual midpoint would fail loudly)
        expected[doc_id] = (n_toks, s_t, s_r, round(s_t / s_r, 6))

    got = {
        r["doc_id"]: (r["n_toks"], r["sum_target"], r["sum_raw"], r["ratio"])
        for r in all_queries()["ds1_importance_ratio"](spark, sf_dir).collect()
    }
    assert got == expected


def test_sm2_mixture_sample_pandas_third_opinion(spark, sf_dir, docs):
    import math

    total = 200
    counts = docs.groupby("source")["doc_id"].count()
    # mirror the engine arithmetic exactly: floor(IEEE sqrt), then one
    # float division under floor (Spark's `/` is double division)
    isq = {s: math.floor(math.sqrt(n)) for s, n in counts.items()}
    S = sum(isq.values())
    quota = {s: max(math.floor(total * q / S), 1) for s, q in isq.items()}
    expected = set()
    for s, grp in docs.groupby("source"):
        ranked = sorted(
            grp["doc_id"], key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d)
        )
        for rn, d in enumerate(ranked[: quota[s]], start=1):
            expected.add((s, d, rn, quota[s]))

    got = all_queries()["sm2_mixture_sample"](spark, sf_dir).collect()
    assert {tuple(r) for r in got} == expected


def test_sp1_hash_split_pandas_third_opinion(spark, sf_dir, docs):
    def split(doc_id) -> str:
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 100
        return "train" if b < 90 else ("val" if b < 95 else "test")

    expected = {(d, split(d)) for d in docs["doc_id"]}
    got = all_queries()["sp1_hash_split"](spark, sf_dir).collect()
    assert {tuple(r) for r in got} == expected
    # sanity: all three splits non-empty at 500 docs (p_miss < 1e-11)
    assert {s for _, s in expected} == {"train", "val", "test"}


@pytest.fixture(scope="module")
def events(sf_dir):
    return pd.read_parquet(f"{sf_dir}/events.parquet")


def test_cal1_calendar_profile_python_third_opinion(spark, sf_dir, events):
    """Day-numbering conventions are the canonical shared-bug zone (three
    different 'weekday' definitions across engines); Python's
    datetime.weekday() is the independent ISO authority here."""
    grid: Counter = Counter()
    for ts in events["ts"]:
        py = ts.to_pydatetime()
        grid[(py.weekday() + 1, py.hour)] += 1  # ISO 1=Monday..7=Sunday
    got = {
        (r["isodow"], r["hour"]): r["n"]
        for r in all_queries()["cal1_calendar_profile"](spark, sf_dir).collect()
    }
    assert got == dict(grid)


def test_rt1_cohort_retention_python_third_opinion(spark, sf_dir, events):
    """Week-offset bucketing = floor(calendar-day difference / 7) — the
    date-difference convention (calendar days, not 86400-second spans,
    which differ across DST in tz-aware engines) re-derived with
    datetime.date subtraction."""
    first = events.groupby("user_id")["ts"].min().dt.date
    grid: dict = {}
    for uid, ts in zip(events["user_id"], events["ts"]):
        cohort = first[uid]
        week = (ts.date() - cohort).days // 7
        grid.setdefault((cohort, week), set()).add(uid)
    expected = {k: len(v) for k, v in grid.items()}
    got = {
        (r["cohort_day"].date(), r["week_offset"]): r["active_users"]
        for r in all_queries()["rt1_cohort_retention"](spark, sf_dir).collect()
    }
    assert got == expected


def test_w4_session_window_python_third_opinion(spark, sf_dir, events):
    """Native session_window is engine-implemented merge logic (a new
    session starts when the gap since the PREVIOUS event is >= the 30 min
    gap — an event exactly AT the previous end is a new session, since
    windows are [start, end) with end = last_event + gap). Re-derived
    with an explicit Python sweep per user."""
    import datetime as dt

    gap = dt.timedelta(minutes=30)
    expected = set()
    for uid, grp in events.groupby("user_id"):
        ts_sorted = sorted(t.to_pydatetime() for t in grp["ts"])
        start, prev, n = ts_sorted[0], ts_sorted[0], 1
        for t in ts_sorted[1:]:
            if t - prev >= gap:
                expected.add((uid, start, prev + gap, n))
                start, n = t, 0
            prev = t
            n += 1
        expected.add((uid, start, prev + gap, n))
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in all_queries()["w4_session_window"](spark, sf_dir).collect()
    }
    assert got == expected


def test_sv1_conversion_percentiles_python_third_opinion(spark, sf_dir, events):
    """Discrete-percentile convention: the value at rank ceil(q/100·n) of
    the ascending per-converting-user whole-second deltas (epoch-second
    floor on each endpoint BEFORE subtracting, not floor of the float
    difference)."""
    import math

    deltas = []
    for uid, grp in events.groupby("user_id"):
        signups = grp.loc[grp["event_type"] == "signup", "ts"]
        if signups.empty:
            continue
        t1 = signups.min()
        purchases = grp.loc[(grp["event_type"] == "purchase") & (grp["ts"] > t1), "ts"]
        if purchases.empty:
            continue
        t2 = purchases.min()
        deltas.append(int(t2.value // 10**9) - int(t1.value // 10**9))
    deltas.sort()
    n = len(deltas)
    assert n > 0, "corpus lost its converting users — test is vacuous"
    expected = {(q, deltas[math.ceil(q / 100 * n) - 1]) for q in (50, 90)}
    got = {
        (r["pct"], r["seconds"])
        for r in all_queries()["sv1_conversion_time_percentiles"](spark, sf_dir).collect()
    }
    assert got == expected


def test_fe1_rfm_features_python_third_opinion(spark, sf_dir, events):
    """Monetary cents use HALF_UP rounding of the double (Spark F.round /
    DuckDB round semantics) — replicated via Decimal ROUND_HALF_UP, NOT
    Python's banker's round(); recency is a calendar-day difference to
    the corpus anchor (max last_ts)."""
    from decimal import Decimal, ROUND_HALF_UP

    def cents(v: float) -> int:
        return int(Decimal(v * 100).quantize(Decimal("1"), rounding=ROUND_HALF_UP))

    per_user = {}
    for uid, grp in events.groupby("user_id"):
        per_user[uid] = (
            grp["ts"].max(),
            len(grp),
            sum(cents(v) for v in grp["value"]),
        )
    anchor = max(t for t, _, _ in per_user.values()).date()
    expected = {
        uid: ((anchor - t.date()).days, f, m) for uid, (t, f, m) in per_user.items()
    }
    got = {
        r["user_id"]: (r["recency_days"], r["frequency"], r["monetary_cents"])
        for r in all_queries()["fe1_rfm_features"](spark, sf_dir).collect()
    }
    assert got == expected


def test_tx1_text_normalize_python_third_opinion(spark, sf_dir, docs):
    """Byte-level normalization contract: control-strip (explicit C0/DEL
    class), ASCII-whitespace collapse, space trim — re-derived with
    Python re on the verified-ASCII corpus and compared via the same
    sha256, so a one-byte divergence anywhere fails."""
    ctrl = re.compile(r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]")
    ws = _WS  # same ASCII \s class as the tokenizer

    def clean(s: str) -> str:
        return ws.sub(" ", ctrl.sub("", s)).strip(" ")

    expected = {
        d: (hashlib.sha256(clean(t).encode()).hexdigest(), len(t) - len(clean(t)))
        for d, t in zip(docs["doc_id"], docs["text"])
    }
    got = {
        r["doc_id"]: (r["clean_sha"], r["n_removed"])
        for r in all_queries()["tx1_text_normalize"](spark, sf_dir).collect()
    }
    assert got == expected
