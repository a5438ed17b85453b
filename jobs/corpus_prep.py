#!/usr/bin/env python
"""spark-submit entry point for the corpus-assembly pipeline.

Runs the training-data prep chain (quality gate → exact dedup →
cluster-resolved near-dup dedup → per-language stratified sample →
per-shard sequence packing) through ``plans/corpus_prep.run_corpus_prep``,
which persists each stage's keep-set as a doc_id list plus the packed
bins and prints a manifest of per-stage row counts and lineage. The
stages are the functions the registry's driver-verified dp4 entry runs.

Re-running with the same --input/--output resumes at the first stage
without a commit stamp for this input and these parameters (see
``run_corpus_prep``).

Cluster usage::

    zip -r engine.zip otel_kafka_pg_spark
    spark-submit --py-files engine.zip jobs/corpus_prep.py \
        --input  <documents parquet path> \
        --output <out root> \
        [--quality-min 0.5] [--quality heuristic|gopher] \
        [--near-threshold 0.6] [--per-stratum 25] \
        [--sample stratified|mixture] [--mixture-total 200] \
        [--shard-size 128] [--token-budget 512] [--no-resume]

Local smoke::

    python jobs/corpus_prep.py --input /root/testdata/sf0.001/documents.parquet \
        --output /tmp/corpus_out
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    # flags left out keep run_corpus_prep's defaults
    ap = argparse.ArgumentParser(argument_default=argparse.SUPPRESS)
    ap.add_argument("--input", required=True, help="documents parquet path (doc_id, text, lang, …)")
    ap.add_argument("--output", required=True, help="output root directory")
    ap.add_argument("--quality-min", type=float)
    ap.add_argument(
        "--quality",
        choices=("heuristic", "gopher"),
        help="quality gate: composite heuristic score (dp4 default) or the full "
        "Gopher Table-A1 filter (t8/dp6 definition; --quality-min ignored)",
    )
    ap.add_argument("--near-threshold", type=float)
    ap.add_argument("--per-stratum", type=int)
    ap.add_argument(
        "--sample",
        choices=("stratified", "mixture"),
        help="per-lang quota fill: equal per_stratum quotas (dp4 default) or the "
        "alpha=0.5 temperature mixture schedule (sm2/dp6 definition)",
    )
    ap.add_argument("--mixture-total", type=int)
    ap.add_argument("--shard-size", type=int)
    ap.add_argument("--token-budget", type=int)
    ap.add_argument("--no-resume", action="store_true")
    kw = vars(ap.parse_args())

    from otel_kafka_pg_spark.plans.corpus_prep import run_corpus_prep
    from otel_kafka_pg_spark.session import get_job_spark

    manifest = run_corpus_prep(
        get_job_spark("corpus_prep"),
        kw.pop("input"),
        kw.pop("output"),
        resume=not kw.pop("no_resume", False),
        **kw,
    )
    print(json.dumps(manifest, default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
