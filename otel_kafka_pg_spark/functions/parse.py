"""Vectorized parse of transcript ``text`` — the decoder-batch analog.

The reference decodes OTLP protobuf with a dual-format fallback and flattens
Resource→Scope→Record nesting into flat rows (reference:
modules/kafka/processor/processor.go:58-86 traces, :155-183 logs, flatten
:89-152/:186-275). Here the "wire format" is the marker grammar embedded in
``text`` (see sources/synth.py) and decoding is regex extraction.

One production parse, ``parse_turns``: pure ``pyspark.sql.functions``
regexp expressions inside whole-stage codegen, zero Python. Batch and
streaming entry points both run it. Round-1 evidence chose it: on an idle
host a pandas UDF measured 2-4× faster (pandas' C string loops beat
java.util.regex), but under host CPU contention the run of record
(BENCH_r01.json) had the pandas path at 21.1s vs native 5.18s — the Python
worker pool degrades unboundedly under steal while codegen's worst case
stays bounded. On an idle 4-core host native now wins too: 2.06 s against
2.19 s median per 60k-turn pipeline run.

``parse_turns_pandas`` — one Arrow-batched ``pandas_udf`` using vectorized
``Series.str.extract`` (no per-row Python) — is its differential twin: an
independent implementation in another regex engine that tests assert
byte-identical to ``parse_turns``. No pipeline entry point runs it.

Field semantics mirrored from the reference:

- severity: text token wins; else OTLP number→text map {1,5,9,13,17,21},
  default INFO (reference: processor.go:249-255, log/domain/log.go:32-46).
- status: OK/ERROR from the call marker, else UNSET
  (reference: processor.go:121-130).
- missing string fields are empty strings, matching the reference's VARCHAR
  '' defaults (e.g. parent_span_id, processor.go:106-110).
- message: the free text with markers stripped — the body→message
  extraction analog (reference: processor.go:320-345).
"""

from __future__ import annotations

import functools
import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..schemas import PARSED_FIELDS, SEVERITY_NUM_TO_TEXT

RE_TRACE = r"trace=([0-9a-f]{32})"
RE_SPAN = r"span=([0-9a-f]{16})"
RE_PARENT = r"parent=([0-9a-f]{16})"
# Explicit ASCII word boundaries instead of \b: java.util.regex and CPython
# re disagree about \b off-ASCII in BOTH directions (hypothesis-found, see
# the engine-semantics note below), while `(?<![0-9A-Za-z_])token
# (?![0-9A-Za-z_])` reads identically in Java, CPython, RE2/DuckDB and Go's
# RE2 (the reference engine's regexp) — one boundary semantics everywhere,
# and the reference's own semantics at that. On pure-ASCII text (the whole
# transcript grammar) this is exactly \b.
_BL = r"(?<![0-9A-Za-z_])"  # ASCII boundary, left of token
_BR = r"(?![0-9A-Za-z_])"  # ASCII boundary, right of token
_SEV_WORDS = ("TRACE", "DEBUG", "INFO", "WARN", "ERROR", "FATAL")


def _first_char_guard(*alternatives: str) -> str:
    """Zero-width lookahead on the first characters the alternatives can
    start with. Patterns that open with a lookbehind or an alternation have
    no literal prefix, so java.util.regex tries the whole pattern at every
    offset of the text; the one-character class rejects most offsets first
    (about a third less parse CPU on 60k synthetic turns). Every
    alternative must open with a literal character (pinned by
    tests/test_parse.py)."""
    return "(?=[" + re.escape("".join(sorted({a[0] for a in alternatives}))) + "])"


# lookbehind: the ERROR in "status=ERROR" is a status value, not a severity
RE_SEV_TOK = (
    _first_char_guard(*_SEV_WORDS) + r"(?<!status=)" + _BL + "(" + "|".join(_SEV_WORDS) + ")" + _BR
)
RE_SEV_NUM = r"severity_number=([0-9]+)"
RE_CALL = r"call:([A-Za-z_][A-Za-z0-9_]*)\("
RE_STATUS = r"status=(OK|ERROR)"
RE_DUR = r"dur=([0-9.]+)ms"
RE_METRIC_NAME = r"metric:([A-Za-z_][A-Za-z0-9_]*)="
RE_METRIC_VAL = r"metric:[A-Za-z_][A-Za-z0-9_]*=([-0-9.]+)"

# Everything the message-stripper removes (order matters: composite markers
# before bare tokens).
_MARKER_ALTS = (
    r"trace=[0-9a-f]{32}",
    r"span=[0-9a-f]{16}",
    r"parent=[0-9a-f]{16}",
    r"call:[A-Za-z_][A-Za-z0-9_]*\([^)]*\)",
    r"status=(?:OK|ERROR)",
    r"dur=[0-9.]+ms",
    r"severity_number=[0-9]+",
    r"metric:[A-Za-z_][A-Za-z0-9_]*=[-0-9.]+",
)
RE_MARKERS = (
    _first_char_guard(*_MARKER_ALTS, *_SEV_WORDS)
    + "("
    + "|".join(_MARKER_ALTS)
    + "|" + _BL + "(?:" + "|".join(_SEV_WORDS) + ")" + _BR
    + ")"
)


def _severity_from(tok: Column, num: Column) -> Column:
    """Text token wins; else number map; default INFO (processor.go:249-255)."""
    mapping = F.create_map(*[F.lit(x) for kv in SEVERITY_NUM_TO_TEXT.items() for x in kv])
    return F.when(tok != "", tok).otherwise(
        F.coalesce(mapping[num.try_cast("int")], F.lit("INFO"))
    )


def parse_turns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Parse via JVM-side regexp expressions (whole-stage codegen path)."""
    return df.withColumns(dict(_parsed_columns(text_col)))


@functools.cache
def _parsed_columns(text_col: str) -> tuple[tuple[str, Column], ...]:
    """The parse expressions depend only on the text column's name, so they
    are built once per name: each function call and literal is a few py4j
    round trips, paid otherwise on every pipeline run."""
    t = F.col(text_col)
    sev_tok = F.regexp_extract(t, RE_SEV_TOK, 1)
    sev_num = F.regexp_extract(t, RE_SEV_NUM, 1)
    status_raw = F.regexp_extract(t, RE_STATUS, 1)
    dur_raw = F.regexp_extract(t, RE_DUR, 1)
    metric_raw = F.regexp_extract(t, RE_METRIC_VAL, 1)
    return tuple({
        "trace_id": F.regexp_extract(t, RE_TRACE, 1),
        "span_id": F.regexp_extract(t, RE_SPAN, 1),
        "parent_span_id": F.regexp_extract(t, RE_PARENT, 1),
        "severity": _severity_from(sev_tok, sev_num),
        "status": F.when(status_raw != "", status_raw).otherwise(F.lit("UNSET")),
        "call_tool": F.regexp_extract(t, RE_CALL, 1),
        "dur_ms": F.nullif(dur_raw, F.lit("")).try_cast("double"),
        "metric_name": F.regexp_extract(t, RE_METRIC_NAME, 1),
        "metric_value": F.nullif(metric_raw, F.lit("")).try_cast("double"),
        "message": F.trim(F.regexp_replace(F.regexp_replace(t, RE_MARKERS, ""), r"\s+", " ")),
    }.items())


# Engine-semantics note (measured on Spark 4.1 / CPython 3.x, pinned by
# tests/test_parse.py::test_native_pandas_agree_on_nonascii_word_boundaries
# and the hypothesis property test_parse_twins_identical_on_woven_unicode):
# java.util.regex \b and CPython \b DIVERGE off-ASCII in both directions —
# the JDK's Bound.check treats a NON_SPACING_MARK riding a letter/digit
# base as a word char ("INFOᤠ": no boundary in Java, boundary in
# Python), while Python's \w includes Nl/No numerics ("INFO½":
# boundary in Java, none in Python). Both patterns therefore use the
# explicit ASCII classes _BL/_BR above, which ALL FOUR engines (Java,
# CPython, DuckDB/RE2 oracle, the reference's Go RE2) read identically on
# any input. Java \s is ASCII-only ([ \t\n\x0B\f\r]) while Python \s is
# Unicode-aware (\xa0 etc.), so the whitespace-collapse step is pinned
# ASCII with (?a); F.trim is space-only, so the twin strips " " rather
# than Python's default unicode-whitespace strip.
_ASCII = "(?a)"


@pandas_udf(PARSED_FIELDS)
def _parse_udf(text: pd.Series) -> pd.DataFrame:
    """Arrow-batched grok extraction — vectorized pandas, no per-row Python."""
    sev_tok = text.str.extract(RE_SEV_TOK, expand=False).fillna("")
    sev_num = pd.to_numeric(text.str.extract(RE_SEV_NUM, expand=False), errors="coerce")
    sev_mapped = sev_num.map(SEVERITY_NUM_TO_TEXT).fillna("INFO")
    severity = sev_tok.where(sev_tok != "", sev_mapped)
    status = text.str.extract(RE_STATUS, expand=False).fillna("UNSET")
    message = (
        text.str.replace(RE_MARKERS, "", regex=True)
        .str.replace(_ASCII + r"\s+", " ", regex=True)
        .str.strip(" ")
    )
    return pd.DataFrame(
        {
            "trace_id": text.str.extract(RE_TRACE, expand=False).fillna(""),
            "span_id": text.str.extract(RE_SPAN, expand=False).fillna(""),
            "parent_span_id": text.str.extract(RE_PARENT, expand=False).fillna(""),
            "severity": severity,
            "status": status,
            "call_tool": text.str.extract(RE_CALL, expand=False).fillna(""),
            "dur_ms": pd.to_numeric(text.str.extract(RE_DUR, expand=False), errors="coerce"),
            "metric_name": text.str.extract(RE_METRIC_NAME, expand=False).fillna(""),
            "metric_value": pd.to_numeric(text.str.extract(RE_METRIC_VAL, expand=False), errors="coerce"),
            "message": message,
        }
    )


def parse_turns_pandas(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Parse via the Arrow-batched pandas UDF (grok-UDF path)."""
    parsed = df.withColumn("_parsed", _parse_udf(F.col(text_col)))
    return parsed.select("*", "_parsed.*").drop("_parsed")

