#!/usr/bin/env python
"""spark-submit entry point for the corpus-assembly pipeline.

Runs the training-data prep chain (quality gate → exact dedup →
cluster-resolved near-dup dedup → per-language stratified sample →
per-shard sequence packing — per-stage functions shared with the
registry's driver-verified dp4 entry, see ``plans/corpus_prep.py``),
persisting each stage's keep-set as a doc_id list plus the packed bins,
with a manifest of per-stage row counts for lineage.

Re-running with the same --input/--output **resumes**: each stage stamps
its own ``_stage.json`` sidecar (fingerprint of input + ALL params, row
count, content hash, per-partition lineage) the moment it commits, so a
job killed after the expensive near-dup stage restarts at the sample,
not at zero — resume never depends on the end-of-run manifest, only on
per-stage stamps. A changed input or parameter set changes the
fingerprint and invalidates every stamped stage (the whole chain: every
stage depends on all parameters upstream of it, and stage params are
all-or-nothing here); a stage dir left by a crashed write has no stamp
(and no ``_SUCCESS``) and never short-circuits.

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
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet path (doc_id, text, lang, …)")
    ap.add_argument("--output", required=True, help="output root directory")
    ap.add_argument("--quality-min", type=float, default=0.5)
    ap.add_argument(
        "--quality",
        choices=("heuristic", "gopher"),
        default="heuristic",
        help="quality gate: composite heuristic score (dp4 default) or the full "
        "Gopher Table-A1 filter (t8/dp6 definition; --quality-min ignored)",
    )
    ap.add_argument("--near-threshold", type=float, default=0.6)
    ap.add_argument("--per-stratum", type=int, default=25)
    ap.add_argument(
        "--sample",
        choices=("stratified", "mixture"),
        default="stratified",
        help="per-lang quota fill: equal per_stratum quotas (dp4 default) or the "
        "alpha=0.5 temperature mixture schedule (sm2/dp6 definition)",
    )
    ap.add_argument("--mixture-total", type=int, default=200)
    ap.add_argument("--shard-size", type=int, default=128)
    ap.add_argument("--token-budget", type=int, default=512)
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()

    from otel_kafka_pg_spark.session import get_job_spark

    spark = get_job_spark("corpus_prep")

    from otel_kafka_pg_spark.plans import corpus_prep as cp
    from otel_kafka_pg_spark.plans.manifest import atomic_write, input_fingerprint, write_with_summary

    # knobs that the chosen method ignores are normalized OUT of the resume
    # fingerprint — changing --quality-min under --quality gopher (which
    # ignores it) must not invalidate every stage stamp
    params = {
        "quality_min": args.quality_min if args.quality == "heuristic" else None,
        "quality": args.quality,
        "near_threshold": args.near_threshold,
        "per_stratum": args.per_stratum if args.sample == "stratified" else None,
        "sample": args.sample,
        "mixture_total": args.mixture_total if args.sample == "mixture" else None,
        "shard_size": args.shard_size,
        "token_budget": args.token_budget,
    }
    fp = f"{input_fingerprint(args.input)}::{json.dumps(params, sort_keys=True)}"
    manifest_path = os.path.join(args.output, "manifest.json")
    os.makedirs(args.output, exist_ok=True)

    docs = spark.read.parquet(args.input)
    counts: dict[str, int] = {"input": docs.count()}
    lineage: dict[str, list] = {}
    resumed: list[str] = []

    def load_or_build(name: str, build):
        """Reuse a stage output iff its own ``_stage.json`` stamp matches
        THIS fingerprint and the directory committed (``_SUCCESS``). The
        stamp is written only after the parquet commit, and the overwrite
        wipes any stale stamp first — so a dir from a crashed write or a
        different-parameter run never short-circuits, even when that other
        run died before writing any manifest."""
        dest = os.path.join(args.output, name)
        stamp_path = os.path.join(dest, "_stage.json")
        if (
            not args.no_resume
            and os.path.exists(stamp_path)
            and os.path.exists(os.path.join(dest, "_SUCCESS"))
        ):
            try:
                with open(stamp_path) as fh:
                    stamp = json.load(fh)
            except (ValueError, OSError):
                # torn/unreadable stamp → rebuild the stage, never abort.
                # ValueError covers both JSONDecodeError (truncated write)
                # and UnicodeDecodeError (byte-corrupted file) — the latter
                # is a ValueError but NOT a JSONDecodeError
                stamp = {}
            if stamp.get("fingerprint") == fp:
                resumed.append(name)
                counts[name] = stamp["rows"]
                lineage[name] = stamp["lineage"]
                return spark.read.parquet(dest)
        frame = build()
        if name != "packed":
            frame = frame.select("doc_id")
        # rows + content hash + per-partition lineage ride the write job
        # itself (observe + parquet footers) — no re-scan per stage
        rows, chash, lin = write_with_summary(frame, dest)
        counts[name] = rows
        lineage[name] = lin
        # atomic: a kill mid-write must leave no stamp rather than a torn one
        atomic_write(
            stamp_path,
            json.dumps({"fingerprint": fp, "rows": rows, "content_hash": chash, "lineage": lin}),
        )
        return spark.read.parquet(dest)

    gated_ids = load_or_build(
        "gated", lambda: cp.quality_gate(docs, args.quality_min, method=args.quality)
    )
    # stage handoffs are id lists; rejoin the source for stages that need text
    kept_ids = load_or_build(
        "kept", lambda: cp.exact_keep(docs.join(gated_ids.select("doc_id"), "doc_id"))
    )
    reps = load_or_build(
        "reps",
        lambda: cp.near_dup_reps(docs.join(kept_ids.select("doc_id"), "doc_id"), args.near_threshold),
    )
    sample = load_or_build(
        "sample",
        lambda: cp.quota_sample(
            docs, reps, args.per_stratum, method=args.sample, mixture_total=args.mixture_total
        ),
    )
    packed = load_or_build(
        "packed", lambda: cp.pack_bins(docs, sample, args.shard_size, args.token_budget)
    )

    counts["packed_bins"] = counts.pop("packed")
    total_tokens = packed.agg({"total_tokens": "sum"}).collect()[0][0]
    manifest = {
        "input": args.input,
        "fingerprint": fp,
        "params": params,
        "counts": {**counts, "packed": counts["packed_bins"]},
        "resumed_stages": resumed,
        "total_tokens": total_tokens,
        "lineage": lineage,
    }
    atomic_write(manifest_path, json.dumps(manifest, default=str))
    print(json.dumps(manifest, default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
