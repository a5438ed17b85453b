#!/usr/bin/env python
"""Regenerate PLANS.md — formatted physical plans of the headline operators.

Run after any plan-affecting change:  python scripts/dump_plans.py
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"

SHOWCASE = [
    ("tpch_q1", "pushdown + partial agg + tiny shuffle"),
    ("j3_broadcast_enrich", "two broadcast hash joins, no SMJ"),
    ("a7_service_metrics_percentiles", "exact p95+p99 from one percentile aggregate (oracle); a7b: sketch"),
    ("o2_dynamic_sort_whitelist", "TakeOrderedAndProject, no global sort"),
    ("dd1_exact_dedup", "single hash shuffle on the fingerprint"),
    ("a5_trace_reassembly", "ordered span list rides the same single groupBy shuffle"),
    ("pk1_sequence_packing", "per-shard window (partitioned), no global sort"),
    ("ct1_benchmark_contamination", "broadcast benchmark gram set — corpus side never shuffles by gram"),
    ("v1_vocab_topk", "partial-agg'd token counts + TakeOrdered top-k"),
    ("sm1_stratified_sample", "per-stratum window, md5 rank key"),
    ("dd6_paragraph_dedup", "groupBy(fingerprint).min(struct) partial agg — a 10^9-copy boilerplate paragraph ships O(partitions) rows"),
    ("path1_entry_paths", "map-side WindowGroupLimit below the single shuffle"),
]


# ids from session-wide counters: expression ids, plan ids, lambda variables
_SESSION_IDS = (r"(#)(\d+)", r"(plan_id=)(\d+)", r"(lambda [A-Za-z]+_)(\d+)")


def formatted(df) -> str:
    """The formatted plan with its session-wide ids renumbered in order of
    first appearance: a section changes only when its plan does."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    for pattern in _SESSION_IDS:
        ids: dict[str, int] = {}
        plan = re.sub(pattern, lambda m: m.group(1) + str(ids.setdefault(m.group(2), len(ids))), plan)
    return plan


def main() -> int:
    from otel_kafka_pg_spark import queries as registry
    from otel_kafka_pg_spark.plans.pipeline import build_routed
    from otel_kafka_pg_spark.session import get_spark
    from otel_kafka_pg_spark.sources.synth import load_or_synth_transcripts

    spark = get_spark(cpus=8)
    sections = []
    routed = build_routed(spark, spark.read.parquet(load_or_synth_transcripts(6000, seed=42)))
    sections.append(
        (
            "Flagship pipeline (build_routed: scan -> codegen parse -> "
            "broadcast enrich -> route+attrs, no exchange)",
            formatted(routed),
        )
    )
    # A log request's count pass: the one aggregate that the service,
    # severity and total statements (a1-a3, query_events) are derived from on
    # the driver — those statements are local frames, so their own plans show
    # only a LocalTableScan.
    from otel_kafka_pg_spark.operators.aggregate import EventFilter, build_event_filter, type_count_plan

    events = spark.read.parquet(os.path.join(SF, "events.parquet"))
    flt = EventFilter(types_in=["click", "view"], min_value=5.0)
    sections.append(
        (
            "log request count pass (type_count_plan) — one partial+final aggregate, "
            "no sort exchange; service/severity/total derive from its rows",
            formatted(type_count_plan(build_event_filter(events, flt))),
        )
    )
    qs = registry.all_queries()
    for name, note in SHOWCASE:
        sections.append((f"{name} — {note}", formatted(qs[name](spark, SF))))

    # qb1's PRODUCTION path (exact=False, the 10^12-row default): cut points
    # from percentile_approx sketches, broadcast to a zero-shuffle threshold
    # probe — the registry entry dumps would show the exact=True verification
    # config instead, which deliberately pays a rank window for the oracle.
    from otel_kafka_pg_spark.operators.corpus import length_decile_buckets

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    sections.append(
        (
            "qb1 length_decile_buckets DEFAULT sketch path (exact=False) — "
            "percentile_approx cuts, no unpartitioned window anywhere",
            formatted(length_decile_buckets(docs)),
        )
    )

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("# PLANS — formatted physical plans of the headline operators\n\n")
        f.write('Generated by `.explain("formatted")` at sf0.01 (plans are scale-independent;\n')
        f.write("AQE leaves the final plan to runtime, shown pre-execution). Regenerate with\n")
        f.write("`python scripts/dump_plans.py` after plan-affecting changes.\n")
        for title, plan in sections:
            f.write(f"\n## {title}\n\n```\n{plan}```\n")
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
