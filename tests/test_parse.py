"""Parse operator tests: golden cases + native-vs-pandas differential."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from otel_kafka_pg_spark.functions.parse import parse_turns, parse_turns_pandas
from otel_kafka_pg_spark.schemas import TRANSCRIPTS

TS = dt.datetime(2025, 1, 1)


def _df(spark, texts):
    rows = [("c1", i, "user", t, "bash", TS) for i, t in enumerate(texts)]
    return spark.createDataFrame(rows, TRANSCRIPTS)


PARSE_COLS = [
    "trace_id",
    "span_id",
    "parent_span_id",
    "severity",
    "status",
    "call_tool",
    "dur_ms",
    "metric_name",
    "metric_value",
    "message",
]


def _parse_one(spark, text, impl=parse_turns):
    return impl(_df(spark, [text])).select(*PARSE_COLS).collect()[0].asDict()


def test_full_marker_extraction(spark):
    t = (
        "running now trace=0123456789abcdef0123456789abcdef span=0011223344556677 "
        "parent=8899aabbccddeeff call:bash(arg) status=ERROR dur=12.5ms WARN metric:latency=3.25"
    )
    r = _parse_one(spark, t)
    assert r["trace_id"] == "0123456789abcdef0123456789abcdef"
    assert r["span_id"] == "0011223344556677"
    assert r["parent_span_id"] == "8899aabbccddeeff"
    assert r["severity"] == "WARN"
    assert r["status"] == "ERROR"
    assert r["call_tool"] == "bash"
    assert r["dur_ms"] == 12.5
    assert r["metric_name"] == "latency"
    assert r["metric_value"] == 3.25
    assert r["message"] == "running now"


@pytest.mark.parametrize(
    ("text", "expected"),
    [
        ("hello severity_number=1", "TRACE"),
        ("hello severity_number=5", "DEBUG"),
        ("hello severity_number=9", "INFO"),
        ("hello severity_number=13", "WARN"),
        ("hello severity_number=17", "ERROR"),
        ("hello severity_number=21", "FATAL"),
        ("hello severity_number=99", "INFO"),  # unknown number → INFO default
        ("hello there", "INFO"),  # no marker → INFO default
        ("hello FATAL severity_number=1", "FATAL"),  # text token wins over number
    ],
)
def test_severity_mapping(spark, text, expected):
    # golden table from reference log/domain/log.go:32-46 + processor.go:249-255
    assert _parse_one(spark, text)["severity"] == expected


def test_status_default_unset(spark):
    # processor.go:121-130: absent status → UNSET
    assert _parse_one(spark, "plain text")["status"] == "UNSET"
    assert _parse_one(spark, "call:bash(x) status=OK dur=1.0ms")["status"] == "OK"


def test_missing_ids_are_empty_strings(spark):
    r = _parse_one(spark, "no markers at all")
    assert r["trace_id"] == "" and r["span_id"] == "" and r["parent_span_id"] == ""
    assert r["dur_ms"] is None and r["metric_value"] is None


def test_message_strips_all_markers(spark):
    t = "the result looks correct to me trace=" + "a" * 32 + " span=" + "b" * 16 + " INFO"
    assert _parse_one(spark, t)["message"] == "the result looks correct to me"


def test_native_and_pandas_impls_identical(spark, transcripts_path):
    """Differential: both parse paths must agree byte-for-byte on real data."""
    df = spark.read.parquet(transcripts_path)
    a = parse_turns(df).select("conv_id", "turn_idx", *PARSE_COLS)
    b = parse_turns_pandas(df).select("conv_id", "turn_idx", *PARSE_COLS)
    assert a.schema == b.schema
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_native_parse_stays_in_codegen(spark, transcripts_path):
    """The native parse must not break whole-stage codegen (no Python in the
    hot path) — scale guard, not just correctness."""
    df = parse_turns(spark.read.parquet(transcripts_path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in plan  # whole-stage-codegen stage marker
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fuzz_differential_adversarial_texts(spark):
    """Seeded fuzz: the two impls must agree on adversarial near-miss
    marker fragments (truncated hex, doubled dots, markers inside words,
    unicode, empty-ish strings) — the inputs most likely to expose regex
    engine differences between java.util.regex and Python re."""
    import random

    rng = random.Random(1234)
    frags = [
        "trace=", "trace=abc", "trace=" + "a" * 31, "trace=" + "a" * 33,
        "span=" + "b" * 15, "span=" + "b" * 16, "parent=" + "c" * 16,
        "call:x(", "call:(", "call:9bad(", "call:ok(arg) status=MAYBE",
        "status=OK", "status=ERROR", "status=OKAY", "xstatus=ERROR",
        "dur=ms", "dur=1..5ms", "dur=.5ms", "dur=123ms", "dur=1.5.5ms",
        "severity_number=", "severity_number=abc", "severity_number=005",
        "metric:=1", "metric:m=", "metric:m=--3", "metric:m=1.2.3", "metric:m=-7.5",
        "TRACE", "DEBUGGING", "xERROR", "ERRORx", "FATAL", "INFOINFO",
        "ERROR", "WARN", "ÜNICÖDE", "日本語テキスト", "", " ", "\t",
        "status=ERROR FATAL", "severity_number=17 DEBUG",
        "INFOᤠ", "ᤠINFO", "INFO½", "ⅫERROR",  # \b-divergence regressions
    ]
    texts = []
    for _ in range(400):
        k = rng.randint(0, 5)
        texts.append(" ".join(rng.choice(frags) for _ in range(k)) or "x")
    df = _df(spark, texts)
    a = parse_turns(df).select("turn_idx", *PARSE_COLS)
    b = parse_turns_pandas(df).select("turn_idx", *PARSE_COLS)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_native_pandas_agree_on_nonascii_word_boundaries(spark):
    """Regression (r5 review + hypothesis fuzz): the twin contract must hold
    off-ASCII. Java \\b and Python \\b diverge off-ASCII in BOTH directions
    (JDK Bound.check treats Mn-riding-a-letter as word — 'INFOᤠ'; Python \\w
    includes Nl/No numerics — 'INFO½'), so both impls use explicit ASCII
    boundary classes — the reference's own Go-RE2 semantics, and the DuckDB
    oracle's. Java \\s is ASCII-only while Python's is Unicode (\\xa0), and
    F.trim is space-only vs Python strip()'s unicode whitespace; the pandas
    twin pins (?a) on the \\s-collapse and strips ' ' only."""
    texts = [
        "caféINFO",  # unicode letter abutting a token: ASCII boundary fires
        "café INFO au lait",
        "x\xa0INFO\xa0y",  # NBSP must NOT count as \s or be trimmed
        "résumé status=ERROR dur=1.5ms",
        "naïveFATAL trace=" + "a" * 32 + " span=" + "b" * 16,
        "INFO\xa0",
        "日本語WARN",
        "INFOᤠ",  # Mn-with-base: Java-\b word, Python-\b boundary
        "ᤠINFO",  # leading Mn with no base
        "xᤠᤠINFO",  # Mn RUN with a word base before it
        "INFO½",  # No numeric: Python-\b word, Java-\b boundary
        "Ⅻ" + "ERROR",  # Nl numeral abutting a token
    ]
    df = _df(spark, texts)
    a = parse_turns(df).select("turn_idx", *PARSE_COLS)
    b = parse_turns_pandas(df).select("turn_idx", *PARSE_COLS)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    # ASCII-boundary semantics in force on both sides (RE2/grok behavior,
    # reference parity): 語 is not [0-9A-Za-z_], so WARN IS a severity
    # token here and is stripped from the message
    one = _parse_one(spark, "日本語WARN")
    assert one["severity"] == "WARN"
    assert one["message"] == "日本語"
    one = _parse_one(spark, "INFOᤠ")
    assert one["severity"] == "INFO"
    assert one["message"] == "ᤠ"


def _first_chars(items) -> set[str]:
    """Characters a parsed (``re._parser``) pattern can start with; leading
    zero-width assertions are skipped. Anything but a literal, a group or an
    alternation in first position fails: a first-character guard cannot
    cover a class or a repeat it does not enumerate."""
    from re import _constants as c

    for op, av in items:
        if op in (c.ASSERT, c.ASSERT_NOT, c.AT):
            continue
        if op is c.LITERAL:
            return {chr(av)}
        if op is c.SUBPATTERN:
            return _first_chars(av[-1])
        if op is c.BRANCH:
            return set().union(*(_first_chars(alt) for alt in av[1]))
        raise AssertionError(f"an alternative opens with {op}, not a literal character")
    raise AssertionError("empty alternative")


@pytest.mark.parametrize("name", ["RE_SEV_TOK", "RE_MARKERS"])
def test_first_char_guard_covers_every_alternative(name):
    """RE_SEV_TOK and RE_MARKERS open with a lookahead on the characters
    their alternatives start with (java.util.regex would otherwise try the
    whole pattern at every offset). The guard must name exactly the first
    characters of the alternatives that follow it: a marker whose first
    character it misses would never match."""
    from re import _constants as c
    from re import _parser

    from otel_kafka_pg_spark.functions import parse

    items = list(_parser.parse(getattr(parse, name)))
    op, av = items[0]
    assert op is c.ASSERT and av[0] == 1, f"{name} must open with a lookahead"
    [(in_op, members)] = list(av[1])
    assert in_op is c.IN
    allowed = set()
    for kind, val in members:
        assert kind is c.LITERAL, f"{name}'s guard must list characters, not ranges"
        allowed.add(chr(val))
    assert _first_chars(items[1:]) == allowed
