"""The corpus-assembly chain as a reusable plan: quality gate → exact
dedup → cluster-resolved near-dup dedup → stratified sample → sequence
packing.

This is the LLM-training-data pipeline the registry's dp4 entry runs as
one oracled query, factored into per-stage functions so ``run_corpus_prep``
(the spark-submit job ``jobs/corpus_prep.py`` calls it) can persist each
stage's keep-set and resume any suffix of the chain from disk, while the
registry composes the same functions end-to-end — the job cannot drift
from the driver-verified chain. Stage parameters default to dp4's
oracle-pinned values.

Scale shape (unchanged from the per-operator analyses in SURVEY.md):
every stage is linear — the quality gate and token counts are pure JVM
expressions; exact dedup is one sha256-fingerprint shuffle; the near-dup
stage shuffles hashed shingle signatures (never text) into the banded
LSH join; connected components is diameter-bounded rounds of join +
min-agg on one key; the sample is a per-stratum window quota; packing
windows per shard (no global sort). Stage handoffs are doc_id lists —
rejoined against the source instead of materializing text copies.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as tx
from ..operators.corpus import stratified_sample
from ..operators.dedup import exact_dedup, minhash_lsh_pairs
from ..operators.graph import duplicate_clusters
from .manifest import atomic_write, commit_output, committed_output, input_fingerprint


def quality_gate(
    docs: DataFrame, quality_min: float = 0.5, method: str = "heuristic"
) -> DataFrame:
    """Docs passing the quality gate. ``method='heuristic'`` (default,
    dp4's oracle-pinned stage) filters on the composite quality score;
    ``method='gopher'`` applies the full Gopher Table-A1 filter
    (operators/corpus.py:gopher_filter — the t8/dp6 driver-verified
    definition; its thresholds are the paper's, so ``quality_min`` is
    ignored)."""
    if method == "gopher":
        from ..operators.corpus import gopher_filter

        keepers = gopher_filter(docs).filter("keep").select("doc_id")
        return docs.join(keepers, "doc_id")
    return docs.filter(tx.quality_score("text") >= quality_min)


def exact_keep(gated: DataFrame) -> DataFrame:
    """Gated docs minus exact duplicates (min-id survivor per content
    fingerprint)."""
    survivors = exact_dedup(gated).select(F.col("keep_id").alias("doc_id"))
    return gated.join(survivors, "doc_id")


def near_dup_reps(kept: DataFrame, near_threshold: float = 0.6) -> DataFrame:
    """One doc_id per near-dup cluster: connected components over the
    MinHash-LSH pair edges, smallest id survives."""
    clusters = duplicate_clusters(kept, minhash_lsh_pairs(kept, threshold=near_threshold))
    return clusters.filter(F.col("doc_id") == F.col("cluster_rep")).select("doc_id")


def quota_sample(
    docs: DataFrame,
    reps: DataFrame,
    per_stratum: int = 25,
    method: str = "stratified",
    mixture_total: int = 200,
) -> DataFrame:
    """Per-``lang`` quota sample of the cluster reps (deterministic
    md5-rank, RNG-free). ``method='stratified'`` (default, dp4's stage)
    takes ``per_stratum`` docs per language; ``method='mixture'`` takes
    ``mixture_total`` docs split by the α=0.5 temperature schedule
    (operators/corpus.py:mixture_sample — the sm2/dp6 definition), which
    upweights tail languages instead of hard-equalizing them."""
    base = docs.join(reps.select("doc_id"), "doc_id")
    if method == "mixture":
        from ..operators.corpus import mixture_sample

        return mixture_sample(base, strata_col="lang", total=mixture_total).select("doc_id")
    return stratified_sample(base, per_stratum=per_stratum).select("doc_id")


def pack_bins(
    docs: DataFrame, sample: DataFrame, shard_size: int = 128, token_budget: int = 512
) -> DataFrame:
    """Per-shard greedy sequence packing of the sampled docs into token
    budgets: (shard, bin_id, n_docs, total_tokens)."""
    tok = docs.join(sample.select("doc_id"), "doc_id").select(
        "doc_id",
        F.floor(F.col("doc_id") / shard_size).alias("shard"),
        tx.token_count("text").alias("n_tok"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    prev = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return (
        tok.withColumn("bin_id", F.floor(prev / token_budget))
        .groupBy("shard", "bin_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("total_tokens"))
    )


def corpus_prep_stages(
    spark: SparkSession,
    docs: DataFrame,
    quality_min: float = 0.5,
    near_threshold: float = 0.6,
    per_stratum: int = 25,
    shard_size: int = 128,
    token_budget: int = 512,
    quality_method: str = "heuristic",
    sample_method: str = "stratified",
    mixture_total: int = 200,
) -> dict[str, DataFrame]:
    """Compose the whole chain; return every stage's frame by name.

    ``gated``   docs passing the quality gate (doc_id, text, …)
    ``kept``    gated minus exact duplicates (min-id survivor)
    ``reps``    one doc_id per near-dup cluster
    ``sample``  per-``lang`` stratified quota sample of the reps
    ``packed``  per-shard sequence-packing bins
                (shard, bin_id, n_docs, total_tokens)
    """
    gated = quality_gate(docs, quality_min, method=quality_method)
    kept = exact_keep(gated)
    reps = near_dup_reps(kept, near_threshold)
    sample = quota_sample(
        docs, reps, per_stratum, method=sample_method, mixture_total=mixture_total
    )
    packed = pack_bins(docs, sample, shard_size, token_budget)
    return {"gated": gated, "kept": kept, "reps": reps, "sample": sample, "packed": packed}


def run_corpus_prep(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    quality_min: float = 0.5,
    quality: str = "heuristic",
    near_threshold: float = 0.6,
    per_stratum: int = 25,
    sample: str = "stratified",
    mixture_total: int = 200,
    shard_size: int = 128,
    token_budget: int = 512,
    resume: bool = True,
) -> dict:
    """Run the chain over the documents at ``input_path``, persisting each
    stage under ``out_dir/<stage>`` (a doc_id list; ``packed`` holds the
    bins), and return the run manifest (also saved as
    ``out_dir/manifest.json``): per-stage counts and lineage, and
    ``resumed_stages``.

    Every stage commits through ``plans/manifest.commit_output``, stamped
    with the fingerprint of the input and ALL parameters, so a job killed
    after the expensive near-dup stage restarts at the sample, not at zero
    — resume reads only the stamps, never the end-of-run manifest. A
    changed input or parameter invalidates every stage (each depends on
    all parameters upstream of it, and stage params are all-or-nothing
    here). ``quality`` and ``sample`` pick the stage definitions (see
    ``quality_gate`` and ``quota_sample``)."""
    # knobs that the chosen method ignores are normalized OUT of the resume
    # fingerprint — changing quality_min under quality="gopher" (which
    # ignores it) must not invalidate every stage stamp
    params = {
        "quality_min": quality_min if quality == "heuristic" else None,
        "quality": quality,
        "near_threshold": near_threshold,
        "per_stratum": per_stratum if sample == "stratified" else None,
        "sample": sample,
        "mixture_total": mixture_total if sample == "mixture" else None,
        "shard_size": shard_size,
        "token_budget": token_budget,
    }
    fp = f"{input_fingerprint(input_path)}::{json.dumps(params, sort_keys=True)}"
    docs = spark.read.parquet(input_path)
    counts: dict[str, int] = {"input": docs.count()}
    lineage: dict[str, list] = {}
    resumed: list[str] = []

    def load_or_build(name: str, build) -> DataFrame:
        dest = os.path.join(out_dir, name)
        entry = committed_output(dest, fp) if resume else None
        if entry is not None:
            resumed.append(name)
        else:
            frame = build()
            entry = commit_output(frame if name == "packed" else frame.select("doc_id"), dest, fp)
        counts[name], lineage[name] = entry["rows"], entry["lineage"]
        return spark.read.parquet(dest)

    # stage handoffs are id lists; rejoin the source for stages that need text
    gated = load_or_build("gated", lambda: quality_gate(docs, quality_min, method=quality))
    kept = load_or_build("kept", lambda: exact_keep(docs.join(gated, "doc_id")))
    reps = load_or_build("reps", lambda: near_dup_reps(docs.join(kept, "doc_id"), near_threshold))
    picked = load_or_build(
        "sample",
        lambda: quota_sample(docs, reps, per_stratum, method=sample, mixture_total=mixture_total),
    )
    packed = load_or_build("packed", lambda: pack_bins(docs, picked, shard_size, token_budget))

    counts["packed_bins"] = counts.pop("packed")
    manifest = {
        "input": input_path,
        "fingerprint": fp,
        "params": params,
        "counts": {**counts, "packed": counts["packed_bins"]},
        "resumed_stages": resumed,
        "total_tokens": packed.agg({"total_tokens": "sum"}).collect()[0][0],
        "lineage": lineage,
    }
    atomic_write(os.path.join(out_dir, "manifest.json"), json.dumps(manifest, default=str))
    return manifest
