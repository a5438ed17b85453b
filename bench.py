#!/usr/bin/env python
"""Benchmark harness for what perfbench/ does not measure.

perfbench/ (declared in BENCHMARK.json) is the benchmark of record for the
pipeline's throughput and per-layer costs. This script keeps the two
numbers it does not produce: the headline registry-query timings and the
N→4N scaling efficiency.

Default mode: time the headline query set (a representative slice of the
SURVEY.md §2 registry) at ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1
testdata directory, see SF_DIR) on ``local[$SPARK_GRAFT_CPUS]`` (default:
the cores this process may run on), plus one run of the default pipeline,
write the FULL result (per-query wall times + stall detail) to
``BENCH/last_full_bench.json``, and print ONE COMPACT JSON line (< 2 KB —
the grading driver's stdout capture truncates long lines; see
compact_line())::

    {"metric": "total_bench_sec", "value": N, "unit": "sec",
     "queries": {"pipeline": N}, "sf": 0.1, "n_queries": N,
     "queries_total_sec": N, "pipeline_turns_per_sec": N,
     "probe_baseline_sec": N, "worst_stall_factor": N, "detail_file": "..."}

``--scaling`` mode: run ONLY the pipeline at two parallelism levels
(local[1] vs local[4] by default — N and 4N cores) in subprocesses (clean
JVM per level — two SparkContexts with different masters can't share a
process safely) and report throughput at both plus scaling efficiency — the
sandbox evidence for the north rule's "≥0.8 efficiency from N to 4N
executors" criterion. Two single-node artifacts shape the level choice,
both measured and documented in BENCH/BASELINE.md: (a) this host's shared
vCPUs DOWNCLOCK as more cores go busy (~0.84 per-core from 2→8 busy,
measured with plain hashlib outside Spark — reported per run as
hw_per_core_factor, with the hardware-normalized efficiency alongside),
and (b) beyond 8 threads the parquet writes serialize on the one local
disk and SMT halves per-thread compute. A multi-executor cluster has
neither coupling. Full curve + compute-only scaling in BENCH/BASELINE.md.

Pipeline turn count scales with the sf dir (sf0.1 → 600k turns) so the
benchmark input matches the scale of the star-schema tables.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from otel_kafka_pg_spark.session import DEFAULT_CPUS as CPUS  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DETAIL_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH", "last_full_bench.json")

# turns for the flagship pipeline bench, keyed by sf (≈ lineitem row count)
PIPELINE_TURNS = {"0.001": 6_000, "0.01": 60_000, "0.1": 600_000}

# headline registry queries: every category represented, runtimes bounded
# (drawn from all_queries() — driver window + locally-verified extras)
HEADLINE = [
    "f1_time_range",
    "f6_ilike_substring",
    "a1_service_counts",
    "a4_trace_groups",
    "a5_trace_reassembly",
    "a6_service_stats",
    "a7_service_metrics_percentiles",
    "j1_left_join_group_count",
    "j3_broadcast_enrich",
    "w1_latest_per_user",
    "w3_sessionization",
    "u2_merge_into",
    "tpch_q1",
    "r1_request_lifecycle_page",
    "dd1_exact_dedup",
    "dd6_paragraph_dedup",
    "ds1_importance_ratio",
    "sm2_mixture_sample",
    "dp1_corpus_prep_dedup",
    "dd3_minhash_lsh_pairs",
    "dd4_simhash_near_pairs",
    "dd4x_simhash_fast",
    "dd5b_embedding_lsh_pairs",
    "dd5bx_embedding_lsh_pruned",
    "dd7_span_dup_fraction",
    "dd7x_span_dup_fast",
    "cc1_dedup_clusters",
    "cc2_dedup_clusters_star",
    "dp4_corpus_pipeline_end_to_end",
    "dp5_semantic_dedup",
    "dp6_corpus_prep_modern",
    "dp7_chunk_pack",
    "t1_text_profile",
    "tf1_tfidf_top_terms",
    "oov1_vocab_oov_rate",
    "sp1_hash_split",
    "bpe1_pair_mining",
    "hh1_heavy_hitters",
    "lm1_bigram_surprisal",
    "dd8_incremental_dedup",
    "tx1_text_normalize",
    "az1_spike_hours",
    "st7_streaming_spike_alerts",
    "gr2_transition_matrix",
    "pm1_pmi_collocations",
    "qb1_length_decile_buckets",
    "fe1_rfm_features",
    "cal1_calendar_profile",
    "ab1_arm_conversion",
    "sv1_conversion_time_percentiles",
    "sk1_hot_keys",
    "dq1_table_profile",
    "mb1_event_type_affinity",
    "eg1_engagement_histogram",
    "wau1_rolling_active_users",
    "fn1_funnel_conversion",
    "rt1_cohort_retention",
    "path1_entry_paths",
    "w4_session_window",
    "st6_stream_upsert",
    "zo1_zorder_values",
    "mv1_incremental_agg",
    "eq1_embedding_quantization",
    "bm1_ranked_retrieval",
    "qc1_classifier_inference",
    "t7_repetition_signals",
    "t8_gopher_quality_filter",
    "px1_pii_redaction",
    "ch1_token_chunks",
    "pk1_sequence_packing",
    "aj1_asof_join",
    "mm1_media_features",
    "e1_cosine_topk",
    # e2/e3 are the driver-window FULL-PROBE verification configs since r3
    # (candidate set = whole table, output == brute force); e2x/e3x are the
    # pruned production configs — both benched so the probe-prune win and
    # the verification tax are each visible
    "e2_lsh_ann_topk",
    "e3_ivf_ann_topk",
    "e2x_lsh_ann_reduced_probe",
    "e3x_ivf_ann_reduced_probe",
    "e2y_lsh_ann_recall_gate",
    "e3y_ivf_ann_recall_gate",
    # round-5 quality gates: gx3 is cheap (one events agg); gx1/gx2 are
    # skipped here because each re-runs BOTH of its twins (dd4+dd4x,
    # dd7+dd7x), which the headline already times individually
    "gx3_hll_error_gate",
]


def sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _resolve_turns(sf_dir: str, n_turns: int | None) -> int:
    if n_turns is None:
        n_turns = PIPELINE_TURNS.get(str(sf_of(sf_dir)).rstrip("0").rstrip("."), None)
    return n_turns if n_turns is not None else PIPELINE_TURNS["0.1"]


_PROBE_WORK = 400_000  # ~0.1 s of sha256 chaining — cheap enough per timed run


class StallProbe:
    """Self-labeling against host CPU steal (the round-3 artifact: a stall
    window recorded the engine 4× slower than its verified steady state).

    A fixed pure-CPU work unit (sha256 chain, no Spark, no IO) is timed at
    bench start (baseline = median of 7) and again immediately before and
    after every timed run. ``stall = max(before, after) / baseline`` labels that
    run's window: ~1.0 = clean host, ≳1.5 = the wall time is contaminated by
    steal and says nothing about the engine. The baseline is the MEDIAN of 7
    spins (a min-of baseline makes every later ordinary sample read ~1.3 —
    measured on this host — because the min captures one lucky window). The
    absolute baseline seconds are also reported so a bench that STARTS
    inside a stall window (inflated baseline → factors ~1.0 while
    everything is slow) is detectable across rounds."""

    def __init__(self):
        self.baseline = _median([_spin(_PROBE_WORK) for _ in range(7)])

    def sample(self) -> float:
        return _spin(_PROBE_WORK) / self.baseline


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def _pick_runs(walls: list[float], stalls: list[float]) -> dict:
    """min + median + the stall label of the min run (the run-of-record)."""
    i_best = min(range(len(walls)), key=lambda i: walls[i])
    return {
        "wall_sec": round(walls[i_best], 3),
        "wall_sec_median": round(_median(walls), 3),
        "stall_factor": round(stalls[i_best], 2),
        "stall_max": round(max(stalls), 2),
        "runs_sec": [round(w, 3) for w in walls],
    }


def _timed_pipeline_run(spark, path: str) -> tuple[float, int]:
    from otel_kafka_pg_spark.plans.pipeline import run_pipeline

    out = tempfile.mkdtemp(prefix="bench_pipeline_")
    try:
        t0 = time.monotonic()
        manifest = run_pipeline(spark, path, out, resume=False)
        return time.monotonic() - t0, next(iter(manifest["sinks"].values()))["input_rows"]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def run_pipeline_bench(
    spark,
    sf_dir: str,
    n_turns: int | None = None,
    probe: StallProbe | None = None,
    n_runs: int = 5,
) -> dict:
    """Full parse→enrich→route→sink run of the default pipeline over
    synthetic transcripts sized to the sf dir; returns wall time +
    turns/sec.

    A JIT warm-up at 1% scale runs first (steady-state codegen cost, not
    one-off JVM compilation); then best-of-``n_runs`` with the median
    alongside and every raw wall time in runs_sec. Each run carries a
    StallProbe label: the run-of-record's stall_factor says whether ITS
    window was clean."""
    from otel_kafka_pg_spark.plans.pipeline import run_pipeline
    from otel_kafka_pg_spark.sources.synth import load_or_synth_transcripts

    probe = probe or StallProbe()
    n_turns = _resolve_turns(sf_dir, n_turns)
    path = load_or_synth_transcripts(n_turns, seed=42)
    warm_path = load_or_synth_transcripts(max(n_turns // 100, 2000), seed=43)
    warm_out = tempfile.mkdtemp(prefix="bench_warm_")
    try:
        run_pipeline(spark, warm_path, warm_out, resume=False)
    finally:
        shutil.rmtree(warm_out, ignore_errors=True)
    walls, stalls = [], []
    rows = 0
    before = probe.sample()
    for _ in range(n_runs):
        w, rows = _timed_pipeline_run(spark, path)
        after = probe.sample()
        walls.append(w)
        stalls.append(max(before, after))
        before = after  # the after-probe doubles as the next run's before
    picked = _pick_runs(walls, stalls)
    return {
        "turns": rows,
        **picked,
        "turns_per_sec": round(rows / picked["wall_sec"], 1),
        "turns_per_sec_median": round(rows / picked["wall_sec_median"], 1),
    }


def run_queries_bench(
    spark, sf_dir: str, names: list[str], probe: StallProbe | None = None
) -> tuple[dict[str, float], dict[str, dict]]:
    """Returns (timings, detail): timings[name] = best-of-2 seconds (the
    stable driver-facing schema), detail[name] = median + per-run stall
    labels from the StallProbe."""
    from otel_kafka_pg_spark import queries as registry

    probe = probe or StallProbe()
    qs = registry.all_queries()
    timings: dict[str, float] = {}
    detail: dict[str, dict] = {}
    before = probe.sample()
    for name in names:
        fn = qs[name]
        walls, stalls = [], []
        for _ in range(2):  # best of 2 — host CPU-steal windows distort singles
            t0 = time.monotonic()
            n = fn(spark, sf_dir).count()  # force full execution
            walls.append(time.monotonic() - t0)
            assert n >= 0
            after = probe.sample()
            stalls.append(max(before, after))
            before = after
        picked = _pick_runs(walls, stalls)
        timings[name] = picked["wall_sec"]
        detail[name] = {k: picked[k] for k in ("wall_sec_median", "stall_factor", "stall_max")}
    return timings, detail


def main_bench(cpus: int, sf_dir: str, pipeline_only: bool, turns: int | None = None, n_runs: int = 1) -> dict:
    """Best-of-``n_runs`` pipeline runs, then the headline queries unless
    ``pipeline_only`` (the --scaling child)."""
    from otel_kafka_pg_spark.session import get_spark

    spark = get_spark(app_name=f"bench_c{cpus}", cpus=cpus)
    # warm the JVM/codegen path so timings measure the engine, not startup
    spark.range(1000).selectExpr("sum(id)").collect()
    probe = StallProbe()
    pipeline = run_pipeline_bench(spark, sf_dir, n_turns=turns, probe=probe, n_runs=n_runs)
    queries, detail = ({}, {}) if pipeline_only else run_queries_bench(spark, sf_dir, HEADLINE, probe=probe)
    queries["pipeline"] = pipeline["wall_sec"]
    detail["pipeline"] = {k: pipeline[k] for k in ("wall_sec_median", "stall_factor", "stall_max")}
    return {
        "metric": "total_bench_sec",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf_of(sf_dir),
        "cpus": cpus,
        # stall self-labeling (round-3 verdict item 1): per-query window
        # cleanliness + the absolute probe baseline for cross-round checks
        "stall": detail,
        "probe_baseline_sec": round(probe.baseline, 4),
        "pipeline": pipeline,
    }


def _spin(n: int) -> float:
    """Pure-CPU fixed work unit (sha256 chain) for the frequency control."""
    import hashlib

    h = hashlib.sha256(b"x")
    t0 = time.monotonic()
    for _ in range(n):
        h = hashlib.sha256(h.digest())
    return time.monotonic() - t0


def cpu_frequency_factor(low: int, high: int, work: int = 3_000_000) -> float:
    """Per-core throughput of this HOST at `high` busy cores relative to
    `low` busy cores, measured with plain hashlib in multiprocessing — no
    Spark, no IO, embarrassingly parallel. Shared-vCPU sandboxes downclock
    as more cores go busy (measured here: ~0.84 from 2→8), which caps the
    measurable scaling efficiency of ANY program at this factor; a real
    cluster adds executors on other machines and has no such coupling. The
    scaling report includes both the raw efficiency and the value
    normalized by this hardware ceiling."""
    import multiprocessing as mp

    rates = {}
    for procs in (low, high):
        with mp.Pool(procs) as p:
            times = p.map(_spin, [work] * procs)
        rates[procs] = work / max(times)
    return rates[high] / rates[low]


def main_scaling(low: int, high: int, turns: int) -> dict:
    """Same job, same input, two parallelism levels → scaling efficiency.

    efficiency = (throughput_high / throughput_low) / (high / low); ≥0.8 is
    the north-rule gate. Subprocess per level for a clean JVM. The input is
    sized (default 2.4M turns) so per-core compute dominates fixed job
    overheads — at bench scale (600k) the job is overhead-bound and MORE
    parallelism measures as slower, which says nothing about cluster
    scaling. Alongside the raw ratio the report carries the host's own
    per-core frequency factor between the two levels (see
    cpu_frequency_factor) and the hardware-normalized efficiency — the
    number a cluster, whose executors do not downclock each other, would
    see. ``turns`` alone sizes the input, so the line carries no sf."""
    results = {}
    for cpus in (low, high):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--pipeline-only", "--cpus", str(cpus),
             "--turns", str(turns), "--runs", "3"],
            capture_output=True,
            text=True,
            check=True,
        )
        results[cpus] = json.loads(out.stdout.strip().splitlines()[-1])
    tp_low = results[low]["pipeline"]["turns_per_sec"]
    tp_high = results[high]["pipeline"]["turns_per_sec"]
    eff = (tp_high / tp_low) / (high / low)
    hw = cpu_frequency_factor(low, high)
    return {
        "metric": "scaling_efficiency",
        "value": round(eff, 3),
        "unit": "ratio",
        "turns": turns,
        "low": {"cpus": low, "turns_per_sec": tp_low},
        "high": {"cpus": high, "turns_per_sec": tp_high},
        "speedup": round(tp_high / tp_low, 3),
        "ideal_speedup": high / low,
        "hw_per_core_factor": round(hw, 3),
        "hw_normalized_efficiency": round(eff / hw, 3),
    }


def compact_line(result: dict, detail_file: str) -> dict:
    """Shrink the full-mode result to a grader-parseable final line.

    Round-4 lesson (ADVICE item 1): the 81-query single-line JSON outgrew
    the grading driver's stdout capture window (~2000 chars), so the round's
    artifact of record was machine-unreadable (`parsed: null`). The final
    stdout line now carries only the totals, the pipeline numbers, the probe
    baseline, and the worst per-query stall factor; the FULL result —
    per-query wall times and the complete stall-detail map — goes to
    ``detail_file``.
    """
    stall = result.get("stall", {})
    worst_name, worst = "", 0.0
    for name, d in stall.items():
        f = d.get("stall_factor") or 0.0
        if f > worst:
            worst_name, worst = name, f
    queries = result.get("queries", {})
    qtimes = {k: v for k, v in queries.items() if k != "pipeline"}
    slowest = dict(sorted(qtimes.items(), key=lambda kv: -kv[1])[:3])
    pipe = result.get("pipeline", {})
    return {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        # the pipeline number inline; the full per-query map is in detail_file
        "queries": {"pipeline": queries["pipeline"]},
        "sf": result["sf"],
        "cpus": result["cpus"],
        "n_queries": len(qtimes),
        "queries_total_sec": round(sum(qtimes.values()), 3),
        "slowest": {k: round(v, 3) for k, v in slowest.items()},
        "pipeline_turns_per_sec": pipe.get("turns_per_sec"),
        "probe_baseline_sec": result.get("probe_baseline_sec"),
        "worst_stall_factor": round(worst, 3),
        "worst_stall_query": worst_name,
        "detail_file": detail_file,
    }


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=CPUS)
    ap.add_argument("--sf-dir", default=SF_DIR)
    ap.add_argument("--pipeline-only", action="store_true")
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--scaling-low", type=int, default=1)
    ap.add_argument("--scaling-high", type=int, default=4)
    ap.add_argument("--turns", type=int, default=None)
    ap.add_argument("--runs", type=int, default=5, help="--pipeline-only repetitions (best-of-n)")
    ap.add_argument("--scaling-turns", type=int, default=2_400_000)
    args = ap.parse_args()
    if args.scaling:
        result = main_scaling(args.scaling_low, args.scaling_high, args.scaling_turns)
    elif args.pipeline_only:
        # the small full payload: main_scaling parses it from stdout
        result = main_bench(args.cpus, args.sf_dir, True, args.turns, args.runs)
    else:
        full = main_bench(args.cpus, args.sf_dir, False, args.turns)
        os.makedirs(os.path.dirname(DETAIL_FILE), exist_ok=True)
        with open(DETAIL_FILE, "w") as f:
            json.dump(full, f, indent=1)
        result = compact_line(full, os.path.relpath(DETAIL_FILE, os.getcwd()))
    print(json.dumps(result))
