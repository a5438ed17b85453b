"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship parse → enrich → route → aggregate slice
over /root/testdata/sf0.001 (events adapted into the transcript input
shape). ``queries()`` / ``oracle_sql()`` expose the full operator registry
from ``otel_kafka_pg_spark.queries`` (SURVEY.md §2 coverage; DuckDB oracles
where SQL-expressible, rows-only otherwise).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from otel_kafka_pg_spark import queries as registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: adapt sf0.001 events into the transcript shape, run the full
    pipeline transform DAG (parse → broadcast enrich → route → attributes),
    and aggregate severity × signal counts with
    the reference's severity rank ordering (log repo:194-214)."""
    from otel_kafka_pg_spark.plans.pipeline import build_routed
    from otel_kafka_pg_spark.schemas import SEVERITY_RANK

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # deterministic marker synthesis so every route fires: clicks/views carry
    # span markers (→ traces), purchases carry metric markers (→ metrics),
    # the rest are plain log turns with a severity token
    ehash = F.sha2(F.col("event_id").cast("string"), 256)
    span_frag = F.concat(
        F.lit(" trace="), F.substring(ehash, 1, 32),
        F.lit(" span="), F.substring(ehash, 33, 16),
        F.lit(" call:search(q) status="),
        F.when(F.col("value") > 90, "ERROR").otherwise("OK"),
        F.lit(" dur="), F.round(F.col("value"), 2).cast("string"), F.lit("ms"),
    )
    metric_frag = F.concat(F.lit(" metric:value="), F.col("value").cast("string"))
    sev_frag = F.when(F.col("event_type") == "error", " ERROR").otherwise(" INFO")
    transcripts = ev.select(
        F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        # concat_ws skips nulls (unlike concat, which propagates them): a
        # null value/props must degrade to a shorter text, not a null turn
        F.concat_ws(
            "",
            F.coalesce(F.col("props"), F.lit("")),
            sev_frag,
            F.when(F.col("event_type").isin("click", "view"), span_frag).otherwise(F.lit("")),
            F.when(F.col("event_type") == "purchase", metric_frag).otherwise(F.lit("")),
        ).alias("text"),
        F.when(F.col("event_type") == "signup", None).otherwise(F.lit("search")).alias("tool"),
        F.col("ts"),
    )
    routed = build_routed(spark, transcripts)
    rank = F.create_map(*[F.lit(x) for kv in SEVERITY_RANK.items() for x in kv])
    return (
        routed.groupBy("severity", "signal_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(rank[F.col("severity")], "signal_type")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    return registry.oracle_sql()
