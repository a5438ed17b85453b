"""The flagship job: parse → enrich → route → aggregate, with resume.

This is the batch re-expression of the reference's ingest path
(Kafka poll → decode → buffer → flush → Postgres upsert, reference:
consumer.go:162-329). One lazily-built DAG:

    read parquet                                              [size-balanced splits]
      → vectorized parse of text                              [decoder batch, narrow]
      → broadcast-join enrich on (tool, role)                 [resource attrs]
      → classify signal_type                                  [topic dispatch]
      → canonical attributes JSON                             [one render per row]
      → persist the sink-read columns                         [one scan, 4 sinks]
      → per-sink filtered write + per-sink aggregate counts   [flush + count logs]
      → commit stamp per sink, run summary                    [checkpoint/lineage]

Scale notes (the plan that must survive 1000 executors / 100 TB):
- everything before the sinks is one narrow pipelined stage per scan
  split: no exchange, under whole-stage codegen. The only wide operation
  is the counts aggregation (map-side partial). Sink rows carry
  content-derived IDs, so no ordering is needed; the ordering window
  (operators/order.py) is not in the DAG. Sources with fewer scan splits than cores (one big file,
  skew-laid-out inputs) opt into the pre-parse salted repartition with
  ``salt_buckets>0`` — see build_routed.
- the enrich join is a broadcast hash join by construction — no shuffle of
  the fact side, no skew exposure.
- fan-out (``write_sinks``, shared with the streaming pipeline's
  micro-batches) materializes the routed frame's SINK_COLUMNS once
  (persist, MEMORY_AND_DISK_DESER: blocks that do not fit in executor
  memory spill to local disk). The first pending sink fills the cache; the
  others then scan it concurrently from driver threads, each its own Spark
  job, the way the reference flushes each signal type's batch on its own
  (consumer.go:302,316). A single-sink resume skips the cache.
- writes are per-sink parquet (Iceberg-ready: swap the writer for
  ``writeTo(...).append()``). Resume is per sink: each commits through
  ``plans/manifest.commit_output`` and is skipped on a rerun while its
  stamp matches the input (``committed_output``); the corpus job resumes
  its stages by the same rule.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from ..operators.enrich import enrich_with_lookup
from ..operators.order import salted_repartition
from ..operators.route import SINK_BUILDERS, SINK_COLUMNS, SINKS, classify_signal, with_attributes
from ..sources.synth import service_lookup_pandas
from .manifest import commit_output, committed_output, input_fingerprint, save_manifest


def _lookup_fingerprint(lookup) -> str:
    """Deterministic identity of the enrich lookup (Spark or pandas frame),
    folded into the resume fingerprint: a partial resume must NOT mix sinks
    enriched with one lookup with sinks enriched with another (the
    already-complete sinks would silently disagree with the resumed ones).
    The DEFAULT lookup is fingerprinted too — its content lives in code
    (sources/synth.py) and can change between versions, which is exactly
    the mixed-enrich resume this guard exists for. Same content → same
    fingerprint regardless of which frame type carried it, so an explicit
    copy of the default resumes a default run's sinks. The lookup is the
    broadcast side — collecting its few rows here is bounded by the same
    contract that makes the join a broadcast join."""
    import hashlib

    if hasattr(lookup, "to_dict"):  # pandas
        recs = lookup.to_dict("records")
    else:  # Spark
        recs = (r.asDict() for r in lookup.collect())
    rows = sorted(str(sorted(rec.items())) for rec in recs)
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def build_routed(
    spark: SparkSession,
    transcripts: DataFrame,
    lookup: DataFrame | None = None,
    salt_buckets: int = 0,
) -> DataFrame:
    """Compose the full transform DAG up to (but excluding) the sinks.

    The default plan has no exchange: parquet scan splits are already
    size-balanced (maxPartitionBytes), and parse/enrich/classify/attributes
    are per-row over whatever splits the scan produced. Pass
    ``salt_buckets>0`` for sources whose LAYOUT gives fewer splits than
    cores or unbalanced ones (one big input file, one file per hot
    conversation, kafka partitions keyed by conv_id): the salted exchange
    then buys parse-stage parallelism and balance (60k turns in one file of
    two row groups on 4 cores: 3.8–4.9 s per run_pipeline by default,
    3.1–3.3 s with 16 buckets; SCALE.md)."""
    from ..functions.parse import parse_turns

    if lookup is None:
        lookup = spark.createDataFrame(service_lookup_pandas())
    df = transcripts
    if salt_buckets:
        df = salted_repartition(df, spark.sparkContext.defaultParallelism, salt_buckets)
    df = parse_turns(df)
    df = enrich_with_lookup(df, lookup)
    return with_attributes(classify_signal(df))


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    lookup: DataFrame | None = None,
    salt_buckets: int = 0,
    resume: bool = True,
) -> dict:
    """Run the pipeline end-to-end; return the run summary, also saved as
    ``out_dir/_manifest.json``.

    Each sink commits through ``commit_output`` (write, then its own stamp).
    With ``resume=True``, sinks whose stamp matches this input and lookup
    are kept (idempotent resume of partially completed routes; a deleted or
    half-written sink directory has no stamp and is rewritten). The first
    pending sink is written alone; the others then run concurrently. The
    summary holds every sink's entry, with ``write_s`` the wall time of
    its write.
    """
    fp = input_fingerprint(input_path)
    fp += "|lookup:" + _lookup_fingerprint(lookup if lookup is not None else service_lookup_pandas())
    dests = {s: os.path.join(out_dir, s) for s in SINKS}
    sinks = {s: committed_output(d, fp) if resume else None for s, d in dests.items()}
    pending = [s for s, entry in sinks.items() if entry is None]

    t0 = time.monotonic()
    if pending:
        routed = build_routed(spark, spark.read.parquet(input_path), lookup, salt_buckets)

        def save_sink(sink_name: str, frame: DataFrame) -> None:
            sinks[sink_name] = commit_output(frame, dests[sink_name], fp)

        write_sinks(spark, routed, pending, save_sink)
    elapsed = time.monotonic() - t0
    # routing is exclusive and exhaustive (trace|metric|log), so the input
    # row count is exactly the sum of the three sink row counts — no
    # separate count job over the routed frame
    input_rows = sum(sinks[s]["rows"] for s in SINK_BUILDERS)
    manifest = {
        "input_fingerprint": fp,
        "elapsed_sec": elapsed,
        "sinks": {s: {"status": "complete", **e, "input_rows": input_rows} for s, e in sinks.items()},
    }
    # turns_per_sec is only meaningful when THIS invocation wrote every
    # sink: on a partial resume, input_rows counts rows written by
    # previous runs while elapsed_sec covers only the resumed tail, so
    # the ratio would be inflated — record the resumed state instead
    if set(pending) >= set(SINK_BUILDERS):
        manifest["turns_per_sec"] = input_rows / elapsed if elapsed else None
    else:
        manifest["resumed_partial"] = {"sinks_this_run": sorted(pending), "elapsed_sec_this_run": elapsed}
    save_manifest(out_dir, manifest)
    return manifest


def write_sinks(
    spark: SparkSession, routed: DataFrame, pending: list[str], write: Callable[[str, DataFrame], None]
) -> None:
    """Fan the routed frame out to the ``pending`` sinks (SINKS names, at
    least one): ``write(name, frame)`` stores one sink's frame. With more
    than one pending, SINK_COLUMNS are persisted, the first sink is written
    alone to fill the cache and the rest scan it concurrently; a single
    sink scans the frame once, uncached. Leaving the pool's block waits for
    every write, failed or not, so the cache outlives all of them; the
    first failure is then raised."""
    cached = len(pending) > 1
    if cached:
        routed = routed.select(*SINK_COLUMNS).persist()

    def write_one(name: str) -> None:
        write(name, SINKS[name](routed))

    try:
        first, *rest = pending
        write_one(first)
        if rest:
            with ThreadPoolExecutor(max_workers=len(rest)) as pool:
                # wrapped here, in the caller's thread, so each write runs
                # under the caller's Spark local properties (job group, pool) and tags
                inherit = inheritable_thread_target(spark)
                futures = [pool.submit(inherit(write_one), s) for s in rest]
            for f in futures:
                f.result()
    finally:
        if cached:
            routed.unpersist()
