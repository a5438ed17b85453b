#!/usr/bin/env python
"""spark-submit entry point for the transcript pipeline.

Cluster usage (the north-rule shipping shape)::

    zip -r engine.zip otel_kafka_pg_spark
    spark-submit --py-files engine.zip jobs/pipeline.py \
        --input  <iceberg-or-parquet path of transcripts> \
        --output <sink root> \
        [--salt-buckets 64] [--no-resume]

Local smoke (synthesizes input if --input omitted)::

    python jobs/pipeline.py --output /tmp/out

On a real cluster the session comes from spark-submit's conf (master,
executors); the local[] fallback only engages when no active session
exists. Re-running with the same --input/--output resumes: sinks whose
commit stamp matches the input fingerprint are skipped, the rest are
rewritten (idempotent by deterministic row IDs; see ``run_pipeline``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None, help="transcripts parquet path (default: synthesize 60k turns)")
    ap.add_argument("--output", required=True, help="sink root directory")
    ap.add_argument("--salt-buckets", type=int, default=0,
                    help="0 = no pre-parse shuffle (default; scan splits are balanced); "
                         ">0 only for skew-laid-out sources")
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()

    from otel_kafka_pg_spark.session import get_job_spark

    spark = get_job_spark("transcript_pipeline")

    input_path = args.input
    if input_path is None:
        from otel_kafka_pg_spark.sources.synth import load_or_synth_transcripts

        input_path = load_or_synth_transcripts(60_000, seed=42)

    from otel_kafka_pg_spark.plans.pipeline import run_pipeline

    manifest = run_pipeline(
        spark,
        input_path,
        args.output,
        salt_buckets=args.salt_buckets,
        resume=not args.no_resume,
    )
    summary = {
        "input": input_path,
        "output": args.output,
        # absent on partial resumes by design: a resumed tail's elapsed time
        # cannot be divided into rows written by previous runs
        "turns_per_sec": manifest.get("turns_per_sec"),
        "resumed_partial": manifest.get("resumed_partial"),
        "sinks": {k: {"rows": v["rows"], "status": v["status"]} for k, v in manifest["sinks"].items()},
    }
    print(json.dumps(summary, default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
