"""Local replica of the driver's DuckDB-differential gate: every registry
query with an oracle runs on Spark AND DuckDB at sf0.01; row count, sorted
column names, and normalized values must match."""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

from otel_kafka_pg_spark.queries import REGISTRY
from otel_kafka_pg_spark.sources.tables import TESTDATA_TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_CORRECTNESS", "/root/testdata/sf0.01")

ORACLE_CASES = [(name, fn, sql) for name, (fn, sql) in REGISTRY.items() if sql is not None]
ROWS_ONLY_CASES = [(name, fn) for name, (fn, sql) in REGISTRY.items() if sql is None]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _normalize(pdf: pd.DataFrame) -> list[tuple]:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = []
    for tup in pdf.itertuples(index=False):
        row = []
        for v in tup:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append("∅")
            elif isinstance(v, float):
                row.append(f"{round(v, 6):.6f}")
            elif isinstance(v, pd.Timestamp):
                row.append(v.isoformat())
            else:
                row.append(str(v))
        rows.append(tuple(row))
    return sorted(rows)


@pytest.mark.parametrize(("name", "fn", "sql"), ORACLE_CASES, ids=[c[0] for c in ORACLE_CASES])
def test_oracle_match(spark, duck, name, fn, sql):
    got = fn(spark, SF_DIR).toPandas()
    exp = duck.execute(sql).fetchdf()
    assert sorted(got.columns) == sorted(exp.columns), f"{name}: column names differ"
    assert len(got) == len(exp), f"{name}: row count {len(got)} vs oracle {len(exp)}"
    g, e = _normalize(got), _normalize(exp)
    mism = [i for i, (a, b) in enumerate(zip(g, e)) if a != b][:5]
    assert g == e, f"{name}: value mismatch at sorted rows {mism}: {[(g[i], e[i]) for i in mism]}"


@pytest.mark.parametrize(("name", "fn"), ROWS_ONLY_CASES, ids=[c[0] for c in ROWS_ONLY_CASES])
def test_rows_only_runs(spark, name, fn):
    df = fn(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema) > 0


def test_normalize_comparator_negative_controls():
    """The gate itself must be falsifiable: a comparator whose sort or
    stringification collapsed distinct frames would turn every green above
    vacuous. Planted drifts — one value, one sign, one shifted float ulp
    past the rounding grid, a swapped column ASSIGNMENT (same names) —
    must all compare unequal; row order and column ORDER must not."""
    base = pd.DataFrame({"a": [1, 2, 3], "b": [1.25, -0.5, float("nan")]})
    same_reordered = pd.DataFrame({"b": [float("nan"), 1.25, -0.5], "a": [3, 1, 2]})
    assert _normalize(base) == _normalize(same_reordered)

    drift_value = base.copy(); drift_value.loc[1, "a"] = 99
    drift_sign = base.copy(); drift_sign.loc[0, "b"] = -1.25
    drift_float = base.copy(); drift_float.loc[0, "b"] = 1.2500015  # > 1e-6 grid
    swapped_cols = pd.DataFrame({"a": base["b"], "b": base["a"]})
    null_vs_zero = base.copy(); null_vs_zero.loc[2, "b"] = 0.0
    for broken in (drift_value, drift_sign, drift_float, swapped_cols, null_vs_zero):
        assert _normalize(broken) != _normalize(base)

    # sub-grid float noise (past the 6-decimal round) must NOT trip it:
    # that tolerance is what lets IEEE-equal pipelines hash identically
    noise = base.copy(); noise.loc[0, "b"] = 1.2500000001
    assert _normalize(noise) == _normalize(base)
