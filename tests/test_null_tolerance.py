"""Null-tolerance gate: entries reading the LLM-data tables must execute
when a deterministic slice of the non-key columns is NULL.

The driver testdata is fully non-null, so nothing else exercises operators
on nulls — but at 100 TB nulls are routine (failed upstream extract, an
unscored doc, a vector that never got embedded). A pandas UDF that
``np.stack``s a batch containing None, a tokenizer splitting NULL text, or
arithmetic on a NULL value column must not kill the job: the declared
semantics here are crash-freedom and a well-formed result frame (row-level
null-handling policy — drop vs impute — belongs to each operator's
docstring, not this gate).

Injection is deterministic (id-modulus masks), so failures reproduce."""

from __future__ import annotations

import inspect
import os
import shutil

import pytest
from pyspark.sql import functions as F

from otel_kafka_pg_spark.queries import REGISTRY
from otel_kafka_pg_spark.sources.tables import TESTDATA_TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_CORRECTNESS", "/root/testdata/sf0.01")

# (table, id column, columns to null-inject) — ids/timestamps stay intact so
# joins and windows keep their keys; everything else is fair game
_INJECT = {
    "documents": ("doc_id", ["text", "lang", "source", "n_chars"]),
    "embeddings": ("vec_id", ["embedding", "label"]),
    "events": ("event_id", ["event_type", "value", "props"]),
}


def _targets_llm_tables(fn) -> bool:
    # positive signal: reads sf tables via _t() AND touches an injectable
    # table (the old name-substring blocklist self-excluded dp4, whose
    # function name contains "_pipe")
    src = inspect.getsource(fn)
    return "_t(" in src and any(t in src for t in _INJECT)


CASES = [(n, fn) for n, (fn, _) in REGISTRY.items() if _targets_llm_tables(fn)]


@pytest.fixture(scope="module")
def nulled_sf_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("nulled_sf"))
    for t in TESTDATA_TABLES:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        if not os.path.exists(src):
            continue
        dest = os.path.join(out, f"{t}.parquet")
        if t not in _INJECT:
            if os.path.isdir(src):
                shutil.copytree(src, dest)
            else:
                shutil.copy(src, dest)
            continue
        id_col, cols = _INJECT[t]
        df = spark.read.parquet(src)
        for i, c in enumerate(cols):
            # ~9% of rows per column, disjoint-ish offsets per column
            mask = (F.col(id_col) % 11) == (i + 3) % 11
            df = df.withColumn(c, F.when(mask, F.lit(None)).otherwise(F.col(c)))
        df.write.parquet(dest)
    return out


@pytest.mark.parametrize(("name", "fn"), CASES, ids=[c[0] for c in CASES])
def test_entry_survives_nulls(spark, nulled_sf_dir, name, fn):
    df = fn(spark, nulled_sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_query_vec_null_vec0_falls_back_with_table_dim(spark, tmp_path):
    """vec_id 0 present but NULL (an unembedded row — exactly the injection
    this suite models) must not crash the e-family, and the fallback query
    vector must take the TABLE's dimension, not an assumed 64."""
    import os

    from otel_kafka_pg_spark.queries import _query_vec

    rows = [(0, None, "a"), (1, [1.0] * 8, "b"), (2, [0.5] * 8, "c")]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    ).write.parquet(os.path.join(str(tmp_path), "embeddings.parquet"))
    v = _query_vec(spark, str(tmp_path))
    assert len(v) == 8 and v[0] == 1.0 and sum(v) == 1.0
    fn, _ = REGISTRY["e1_cosine_topk"]
    assert fn(spark, str(tmp_path)).count() == 2  # both non-null vectors ranked


def test_page_events_clamps_negative_offset(spark):
    """offset is client-controlled in the request analog: a negative value
    must degrade to offset 0 (the reference clamps bad paging params to
    defaults), not fail Spark's offset >= 0 analysis check and kill the
    whole request."""
    from otel_kafka_pg_spark.operators import aggregate as agg

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(5)], "event_id int, value double"
    ).withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    page = agg.page_events(df, "value", False, limit=3, offset=-1)
    assert [r["event_id"] for r in page.collect()] == [0, 1, 2]
    page2 = agg.page_events(df, "value", False, limit=3, offset=2)
    assert [r["event_id"] for r in page2.collect()] == [2, 3, 4]
