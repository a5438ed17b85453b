"""Empty-input robustness: every registry entry that reads the sf tables
must execute (not crash) when every table has ZERO rows.

At 100 TB scale, empty inputs are routine — a partition with no data yet,
the first run of a day, a filter that eliminated everything upstream. An
operator that throws on an empty frame (e.g. an unguarded ``collect()[0]``,
a ``max()`` that returns null into non-null arithmetic, a centroid fit on
an empty sample) fails the whole job. This gate pins: plan builds, executes,
returns a well-formed (possibly empty) DataFrame with its declared schema.

Entries that synthesize their own input (the pipeline/stream/multimodal
families) ignore ``sf_dir`` and are exercised by their own suites; they are
detected by source inspection and skipped here, so a new sf-reading entry
is auto-enrolled."""

from __future__ import annotations

import inspect
import os

import pytest

from otel_kafka_pg_spark.queries import REGISTRY
from otel_kafka_pg_spark.sources.tables import TESTDATA_TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_CORRECTNESS", "/root/testdata/sf0.01")


def _reads_sf_tables(fn) -> bool:
    # positive signal: sf-reading entries load tables through the shared
    # _t(spark, sf_dir, name) helper. (A name-substring blocklist silently
    # dropped dp4_corpus_pipeline_end_to_end because its own function name
    # contains "_pipe" — a self-excluding gate is worse than no gate.)
    return "_t(" in inspect.getsource(fn)


CASES = [(n, fn) for n, (fn, _) in REGISTRY.items() if _reads_sf_tables(fn)]

# every entry the predicate excludes, pinned by name: a future entry that
# reads sf tables through a helper (no literal "_t(" in its own source)
# would otherwise drop out of BOTH robustness gates silently — the same
# failure class as the "_pipe" self-exclusion this gate once had
_EXPECTED_SYNTH_ONLY = {
    "p1_pipeline_severity_counts",
    "p2_pipeline_route_distribution",
    "p3_pipeline_sink_counts",
    "st1_stream_ingest_counts",
    "st2_stream_windowed_severity",
    "st3_stateful_conversation_state",
    "st4_stream_dedup",
    "st5_stream_stream_join",
    "f10_attr_predicate",
    "mm1_media_features",
    "mm1x_media_feature_vectors",
    "mm2_frame_sample",
}


def test_excluded_entries_are_known_synthetic():
    excluded = {n for n, (fn, _) in REGISTRY.items() if not _reads_sf_tables(fn)}
    assert excluded == _EXPECTED_SYNTH_ONLY, (
        "gate exclusion set changed — if the new entry truly synthesizes its "
        "own input, add it here; if it reads sf tables via a helper, make "
        "'_t(' visible in its source instead"
    )


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("empty_sf"))
    for t in TESTDATA_TABLES:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(src):
            # limit(0) preserves the exact driver schema with zero rows
            spark.read.parquet(src).limit(0).write.parquet(
                os.path.join(out, f"{t}.parquet")
            )
    return out


@pytest.mark.parametrize(("name", "fn"), CASES, ids=[c[0] for c in CASES])
def test_entry_survives_empty_tables(spark, empty_sf_dir, name, fn):
    df = fn(spark, empty_sf_dir)
    n = df.count()
    assert n >= 0
    assert len(df.schema.fields) > 0  # schema still declared, not collapsed
