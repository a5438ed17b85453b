"""Property-based tests (hypothesis): engine expressions vs independent
pure-Python references on randomized inputs.

The DuckDB differential gate checks fixed corpora; these properties attack
the same operators with adversarial generated inputs (unicode, whitespace
runs, empty strings, colliding keys) where hand-picked fixtures have blind
spots. Spark jobs are expensive per example, so each property batches ALL
of hypothesis's examples for a run into ONE DataFrame evaluation where
possible and keeps max_examples small where not.
"""

from __future__ import annotations

import hashlib
import json
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from otel_kafka_pg_spark.functions.attrs import canonical_json, merge_attrs
from otel_kafka_pg_spark.functions.text import winnowing_fingerprints_md5

import os

# 12 examples keeps CI fast (each example is a Spark job); deep shakes run
# HYP_EXAMPLES=200 python -m pytest tests/test_properties.py
SET = settings(
    max_examples=int(os.environ.get("HYP_EXAMPLES", "12")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# printable-ish text incl. whitespace runs and unicode, no surrogates
texts = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
    max_size=60,
)
keys = st.text(alphabet="abcdefgh_", min_size=1, max_size=6)
small_maps = st.dictionaries(keys, st.text(alphabet="xyz01", max_size=4), max_size=5)


def py_winnow_md5(text: str, k: int = 5, window: int = 4) -> list[int]:
    """Independent reimplementation of winnowing_fingerprints_md5 with
    JAVA semantics where they diverge from Python: SQL trim strips only
    ASCII spaces, and Java regex \\s is [ \\t\\n\\x0b\\f\\r] (Python's \\s
    additionally matches \\x1c-\\x1f and unicode spaces)."""
    s = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.strip(" ").lower())
    width = max(len(s) - (k - 1), 1)
    grams = [
        int(hashlib.md5(s[i : i + k].encode("utf-8")).hexdigest()[:15], 16)
        for i in range(width)
    ]
    wm = max(len(grams) - (window - 1), 1)
    mins = [min(grams[i : i + window]) for i in range(wm)]
    return sorted(set(mins))


@SET
@given(st.lists(texts, min_size=1, max_size=8))
def test_winnowing_matches_python_reference(spark, docs):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)], "doc_id long, text string")
    got = {
        r["doc_id"]: list(r["fps"])
        for r in df.select("doc_id", winnowing_fingerprints_md5("text").alias("fps")).collect()
    }
    for i, t in enumerate(docs):
        assert got[i] == py_winnow_md5(t), repr(t)


@SET
@given(small_maps, small_maps)
def test_merge_attrs_matches_dict_union(spark, record, resource):
    prev = spark.conf.get("spark.sql.mapKeyDedupPolicy")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "EXCEPTION")  # vanilla policy
    try:

        def lit_map(d):
            if not d:
                return F.create_map().cast("map<string,string>")
            return F.create_map(*[F.lit(x) for kv in d.items() for x in kv])

        row = (
            spark.range(1)
            .select(
                merge_attrs(lit_map(record), lit_map(resource), resource_wins=True).alias("t"),
                merge_attrs(lit_map(record), lit_map(resource), resource_wins=False).alias("l"),
            )
            .collect()[0]
        )
        assert dict(row["t"]) == {**record, **resource}  # resource wins
        assert dict(row["l"]) == {**resource, **record}  # record wins
    finally:
        spark.conf.set("spark.sql.mapKeyDedupPolicy", prev)


@SET
@given(st.dictionaries(texts.filter(lambda s: "\x00" not in s), texts.filter(lambda s: "\x00" not in s), max_size=6))
def test_canonical_json_matches_sorted_dumps(spark, d):
    m = (
        F.create_map(*[F.lit(x) for kv in d.items() for x in kv])
        if d
        else F.create_map().cast("map<string,string>")
    )
    got = spark.range(1).select(canonical_json(m).alias("j")).collect()[0]["j"]
    exp = json.dumps(dict(sorted(d.items())), separators=(",", ":"), ensure_ascii=False)
    assert json.loads(got) == json.loads(exp)
    # key order must be sorted in the rendered string too (hash stability)
    assert list(json.loads(got).keys()) == sorted(d.keys())


@SET
@given(
    st.dictionaries(st.integers(0, 20), st.floats(-1e6, 1e6), max_size=8),
    st.dictionaries(st.integers(0, 20), st.floats(-1e6, 1e6), max_size=8),
)
def test_merge_upsert_matches_dict_merge(spark, base, updates):
    from otel_kafka_pg_spark.plans.sinks import merge_upsert

    b = spark.createDataFrame([(k, v) for k, v in base.items()] or [(None, None)], "id int, value double").filter(
        F.col("id").isNotNull()
    )
    u = spark.createDataFrame([(k, v) for k, v in updates.items()] or [(None, None)], "id int, value double").filter(
        F.col("id").isNotNull()
    )
    got = {r["id"]: r["value"] for r in merge_upsert(spark, b, u, "id", ["value"]).collect()}
    assert got == {**base, **updates}


@SET
@given(
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=8),
    st.integers(min_value=2, max_value=9),
    st.integers(min_value=0, max_value=8),
)
def test_token_chunks_coverage_and_no_containment(spark, doc_lens, chunk_size, overlap):
    """Invariants for any valid (chunk_size, stride=chunk_size-overlap):
    every token position of every non-empty doc is covered by >= 1
    window; no window's span is contained in another window of the same
    doc; n_chunk_toks is the true clamped width. (stride > chunk_size is
    rejected by the operator — guard pinned in test_corpus.)"""
    from otel_kafka_pg_spark.operators.corpus import token_chunks

    stride = max(1, chunk_size - overlap)

    rows = [(i, " ".join(f"t{j}" for j in range(n)), "en") for i, n in enumerate(doc_lens)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = token_chunks(df, chunk_size=chunk_size, stride=stride).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, n in enumerate(doc_lens):
        chunks = sorted(by_doc.get(i, []), key=lambda r: r["start"])
        if n == 0:
            assert chunks == []
            continue
        spans = [(r["start"], min(n, r["start"] + chunk_size - 1)) for r in chunks]
        covered = set()
        for (s, e), r in zip(spans, chunks):
            assert r["n_chunk_toks"] == e - s + 1
            assert r["chunk_text"] == " ".join(f"t{j}" for j in range(s - 1, e))
            covered.update(range(s, e + 1))
        assert covered == set(range(1, n + 1)), (n, chunk_size, stride, spans)
        for a in spans:
            assert not any(b != a and b[0] <= a[0] and a[1] <= b[1] for b in spans), spans


@SET
@given(
    st.lists(
        st.lists(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_quantize_embeddings_matches_numpy_reference(spark, vecs):
    """The int8 quantizer's floor chain vs an independent float64 numpy
    reference: identical codes (the eq1 oracle's cross-engine claim,
    attacked with adversarial magnitudes instead of the fixture table),
    plus the reconstruction bound |q*scale - v| <= scale/2."""
    import numpy as np

    from otel_kafka_pg_spark.operators.simsearch import quantize_embeddings

    df = spark.createDataFrame(
        [(i, [float(np.float32(x)) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    for i, v in enumerate(vecs):
        arr = np.asarray([np.float32(x) for x in v], dtype=np.float64)
        maxabs = float(np.max(np.abs(arr)))
        if maxabs > 0:
            want = np.floor(arr * 127.0 / maxabs + 0.5).astype(np.int64)
        else:
            want = np.zeros(len(arr), dtype=np.int64)
        assert list(got[i]["q"]) == want.tolist(), (i, v)
        scale = got[i]["scale"]
        assert scale == maxabs / 127.0
        for c, x in zip(got[i]["q"], arr):
            assert abs(c * scale - x) <= scale / 2 + 1e-12


# parse-marker fragments woven into random unicode: hypothesis drives BOTH
# the fragment choice and the surrounding text, so boundary interactions
# (a token glued to a unicode word char, markers inside whitespace runs,
# truncated hex ids) are explored far beyond the seeded 400-case fuzz in
# test_parse.py. The property is the twin contract itself: the pandas/Arrow
# parse must be row-identical to the native codegen parse on ANY input.
_markers = st.sampled_from(
    [
        "", " ", "INFO", "ERROR", "FATAL", "WARN", "TRACE", "DEBUG",
        "status=OK", "status=ERROR", "status=OKAY",
        "severity_number=5", "severity_number=17", "severity_number=",
        "trace=" + "a" * 32, "trace=" + "a" * 31, "span=" + "b" * 16,
        "parent=" + "c" * 16, "call:search(q)", "call:(", "dur=1.5ms",
        "dur=ms", "metric:v=1.25", "metric:v=-7.5", "metric:v=",
    ]
)
_woven = st.lists(st.tuples(texts, _markers), min_size=1, max_size=4).map(
    lambda parts: "".join(t + m for t, m in parts)
)


@SET
@given(st.lists(_woven, min_size=1, max_size=10))
def test_parse_twins_identical_on_woven_unicode(spark, docs):
    import datetime as dt

    from otel_kafka_pg_spark.functions.parse import (
        parse_turns,
        parse_turns_pandas,
    )
    from otel_kafka_pg_spark.schemas import TRANSCRIPTS

    ts = dt.datetime(2025, 1, 1)
    rows = [("c1", i, "user", t, "bash", ts) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, TRANSCRIPTS)
    cols = [
        "turn_idx", "trace_id", "span_id", "parent_span_id", "severity",
        "status", "call_tool", "dur_ms", "metric_name", "metric_value",
        "message",
    ]
    a = parse_turns(df).select(*cols)
    b = parse_turns_pandas(df).select(*cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, docs
