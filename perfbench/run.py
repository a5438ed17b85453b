#!/usr/bin/env python3
"""Benchmark of the transcript pipeline: three closed-loop workloads driven
through the program's public entry points, every output checked.

    python3 perfbench/run.py --workload ingest-bulk --seed 1 --seconds 16 --trace 0

Workloads (one client, the driver thread; each op waits for the previous):

- ``ingest-bulk``: ``run_pipeline`` over one seeded bulk batch, back to back
  into fresh output directories. Per-row layers (parse, attributes, window
  shuffle, persist) dominate.
- ``ingest-small``: ``run_pipeline`` over a distinct small batch per op, the
  batch form of the reference's 100-row / 5 s flush cadence. Per-job fixed
  cost (planning, codegen, job scheduling, footers, manifest) dominates.
- ``api-read``: seeded read requests in the reference's REST shape through
  the response cache; no ingest layer runs.

Inputs are generated from ``--seed`` by a helper process, which also checks
every output with DuckDB, outside the timed spans. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` runs a separate traced variant that times
each layer from outside and prints the per-layer metrics. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the program is imported from the checkout this file sits in
sys.path[:0] = [ROOT, HERE]

import layers  # noqa: E402
import loadgen  # noqa: E402
import measure  # noqa: E402

WORKLOADS = ("ingest-bulk", "ingest-small", "api-read")
BULK_TURNS = 60_000
BULK_FILES = 4
SMALL_TURNS = 6_000
REQUESTS = 1_000  # longer than any run can consume
# The JVM keeps warming up long after the cold op: per-op CPU falls by half
# or more over the first ten or so ops, and the ops of that stretch vary
# most from run to run. A run therefore serves a fixed number of warm-up
# ops (checked, not timed) before it measures, and then measures a fixed
# number of ops, sized so that they last about --seconds on a 4-core host:
# a time window would end after a varying number of ops.
WARMUP_OPS = {"ingest-bulk": 5, "ingest-small": 12, "api-read": 8}
NOMINAL_OP_S = {"ingest-bulk": 2.5, "ingest-small": 1.5, "api-read": 0.8}
# stop starting ops after this much wall time so the run ends well inside 180 s
WALL_LIMIT_S = 140.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Bench:
    """One run: the work directory, the helper process and the session."""

    def __init__(self, args):
        self.args = args
        self.t0 = time.monotonic()
        self.work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
        self.spark = None
        self.jvm = None
        self.exclude = frozenset()
        self.gen_s = 0.0  # helper time spent generating before the session
        self.info: dict = {"phase_s": {}}
        self._mark = self.t0
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        # spark-submit's launcher JVM, like the driver JVM below, keeps its
        # temp files in the run's directory and writes no /tmp/hsperfdata
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        measure.become_subreaper()
        self.helper = Helper()

    def warmup_ops(self) -> int:
        return WARMUP_OPS[self.args.workload]

    def n_ops(self) -> int:
        """Measured ops of this run (after the cold and warm-up ones)."""
        return max(3, round(self.args.seconds / NOMINAL_OP_S[self.args.workload]))

    def elapsed(self) -> float:
        return time.monotonic() - self.t0

    def mark(self, phase: str) -> None:
        """Record on the info line the wall time since the previous mark."""
        now = time.monotonic()
        self.info["phase_s"][phase] = round(now - self._mark, 2)
        self._mark = now

    def start_session(self) -> None:
        from pyspark import SparkContext

        from otel_kafka_pg_spark.session import get_spark

        t = time.monotonic()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # temp files inside the run's directory; no /tmp/hsperfdata
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} "
                                                 "-XX:-UsePerfData",
            },
        )
        self.session_start_s = time.monotonic() - t
        self.jvm = SparkContext._gateway.proc
        # the helper is the load generator, not the program: only this
        # process and the JVM subtree are charged
        self.exclude = frozenset({self.helper.proc.pid})
        conf = self.spark.sparkContext.getConf()
        self.info.update(
            master=self.spark.sparkContext.master,
            shuffle_partitions=self.spark.conf.get("spark.sql.shuffle.partitions"),
            driver_memory=conf.get("spark.driver.memory"),
        )

    def cpu(self) -> float:
        return measure.tree_cpu_s(os.getpid(), self.exclude)

    def peak_rss_mb(self) -> float:
        return measure.tree_peak_rss_mb(os.getpid(), self.exclude)

    def close(self) -> None:
        """Stop the session, the JVM and its Python workers, and the helper;
        wait for every descendant to end."""
        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                from pyspark import SparkContext

                if SparkContext._gateway is not None:
                    SparkContext._gateway.shutdown()
                    SparkContext._gateway = None
                    SparkContext._jvm = None
        if self.jvm is not None:
            self.jvm.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                self.jvm.wait(timeout=30)
            except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
                self.jvm.kill()
                self.jvm.wait()
        self.helper.close()
        measure.reap_descendants(grace_s=20)
        shutil.rmtree(self.work, ignore_errors=True)


class Helper:
    """The load generator in a process of its own. A call is pickled to its
    stdin as (function name in ``loadgen``, args, kwargs); the reply comes
    back on its stdout."""

    def __init__(self):
        code = f"import sys; sys.path[:0] = {[ROOT, HERE]!r}; import loadgen; loadgen.serve()"
        self.proc = subprocess.Popen([sys.executable, "-c", code], stdin=subprocess.PIPE, stdout=subprocess.PIPE)

    def __call__(self, fn, *a, **kw):
        pickle.dump((fn.__name__, a, kw), self.proc.stdin)
        self.proc.stdin.flush()
        ok, value = pickle.load(self.proc.stdout)
        if not ok:
            raise RuntimeError(f"loadgen.{fn.__name__} failed in the helper:\n{value}")
        return value

    def close(self) -> None:
        """End the helper (it exits on stdin EOF) and wait for it."""
        try:
            self.proc.stdin.close()
        except OSError:  # the helper already died; its pipe is broken
            pass
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


# --- op records ----------------------------------------------------------------------


class Ops:
    """Closed-loop op records: wall, CPU, items, class, correctness."""

    def __init__(self):
        self.wall, self.cpu, self.items, self.kinds = [], [], [], []
        self.attempted = 0
        self.failed = 0

    def add(self, wall, cpu, items, kind=None):
        self.wall.append(wall)
        self.cpu.append(cpu)
        self.items.append(items)
        self.kinds.append(kind)

    def fail(self, msg: str):
        self.failed += 1
        print(f"[perfbench] op failed: {msg}", file=sys.stderr)

    # Rates divide by the class-median total rather than the plain sum, so
    # one op slowed by a hiccup of the shared host does not move a run's
    # figure; ops of one class (a request kind, new or repeated) do the
    # same work.
    def items_per_s(self) -> float:
        return sum(self.items) / measure.class_median_total(self.wall, self.kinds)

    def items_per_cpu_s(self) -> float:
        return sum(self.items) / measure.class_median_total(self.cpu, self.kinds)


def _timed(b: Bench, fn):
    c0, t0 = b.cpu(), time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0, b.cpu() - c0


def _attempt(ops: Ops, what: str, fn):
    """Run one op; an exception counts as a failed op and the loop goes on."""
    ops.attempted += 1
    try:
        return fn()
    except Exception as e:  # noqa: BLE001 — boundary of one closed-loop op
        traceback.print_exc()
        ops.fail(f"{what}: {type(e).__name__}: {e}")
        return None


# --- ingest -------------------------------------------------------------------------------


class Ingest:
    """Inputs, oracle answers and ops of one ingest workload."""

    def __init__(self, b: Bench, small: bool, tag: str):
        self.b, self.small, self.tag = b, small, tag
        self.turns = SMALL_TURNS if small else BULK_TURNS
        self.bulk = None  # (path, expected) of the one bulk batch
        self.first_sig = None

    def make_input(self, i: int) -> tuple[str, dict]:
        b, seed = self.b, self.b.args.seed
        if self.small:
            path = os.path.join(b.work, "in", f"{self.tag}-{i}.parquet")
            return path, b.helper(loadgen.write_transcripts, path, self.turns, loadgen.sub_seed(seed, self.tag, i))
        if self.bulk is None:
            path = os.path.join(b.work, "in", self.tag)
            self.bulk = path, b.helper(
                loadgen.write_transcripts, path, self.turns, loadgen.sub_seed(seed, self.tag), BULK_FILES)
        return self.bulk

    def release(self, path: str) -> None:
        if self.small:
            os.remove(path)

    def _check(self, out: str, manifest: dict, expected: dict) -> list[str]:
        errs = self.b.helper(loadgen.check_ingest, out, manifest, expected)
        shutil.rmtree(out, ignore_errors=True)
        sig = _signature(manifest)
        if not self.small:  # one input: every op must write identical content
            self.first_sig = self.first_sig or sig
            if sig != self.first_sig:
                errs.append(f"content differs from the first op: {sig} vs {self.first_sig}")
        return errs

    def op(self, i: int, ops: Ops, path: str, expected: dict) -> dict | None:
        """One ``run_pipeline`` op, checked outside its timing."""
        out = os.path.join(self.b.work, "out", f"op-{i}")
        done = _attempt(ops, f"op {i}", lambda: _timed(self.b, lambda: layers.ingest(self.b.spark, path, out)))
        if done is None:
            return None
        manifest, wall, cpu = done
        errs = self._check(out, manifest, expected)
        if errs:
            ops.fail(f"op {i}: " + "; ".join(errs))
            return None
        ops.add(wall, cpu, self.turns)
        return manifest

    def traced_op(self, i: int, ops: Ops, path: str, expected: dict, t: "LayerTrace") -> dict | None:
        """The pipeline rebuilt from its public functions with spans; its
        sinks must equal ``run_pipeline``'s on the same input."""
        b = self.b
        out = os.path.join(b.work, "out", f"traced-{i}")
        done = _attempt(ops, f"traced op {i}", lambda: _timed(
            b, lambda: layers.traced_pipeline(b.spark, t.groups, t.tracer, path, out, i)))
        if done is None:
            return None
        res, wall, cpu = done
        errs = self._check(out, res["manifest"], expected)
        if errs:
            ops.fail(f"traced op {i}: " + "; ".join(errs))
            return None
        ops.add(wall, cpu, self.turns)
        t.pipelines.append(res)
        return res["manifest"]


def _signature(manifest: dict) -> dict:
    return {s: (v["rows"], v["content_hash"]) for s, v in manifest["sinks"].items()}


def run_ingest(b: Bench, small: bool) -> dict:
    ing = Ingest(b, small, "small" if small else "bulk")
    t = time.monotonic()
    path, expected = ing.make_input(0)
    b.gen_s += time.monotonic() - t
    b.mark("generate")
    b.start_session()
    b.mark("session")
    setup_pre = measure.process_age_s() - b.gen_s
    pre = Ops()  # the cold op and the warm-up ops: checked, not measured
    ing.op(0, pre, path, expected)
    ing.release(path)
    setup_s = setup_pre + pre.wall[0] if pre.wall else None
    b.mark("cold_op")
    b.info.update(turns_per_op=ing.turns)

    def serve(first: int, n: int, ops: Ops) -> None:
        for i in range(first, first + n):
            if b.elapsed() >= WALL_LIMIT_S:
                break
            path, expected = ing.make_input(i)
            ing.op(i, ops, path, expected)
            ing.release(path)

    warm = b.warmup_ops()
    serve(1, warm, pre)
    b.mark("warmup")
    if b.args.trace:
        return trace_ingest(b, ing, pre, warm + 1)
    ops = Ops()
    serve(warm + 1, b.n_ops(), ops)
    b.mark("measured")
    return end_to_end(b, ops, pre, setup_s)


END_TO_END_UNITS = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "items_per_cpu_s": "1/cpu_s",
    "op_p50_s": "s",
    "ok_frac": "fraction",
}


def end_to_end(b: Bench, ops: Ops, pre: Ops, setup_s: float | None) -> dict:
    attempted = ops.attempted + pre.attempted
    failed = ops.failed + pre.failed
    n = len(ops.wall)
    q = measure.highest_reportable_percentile(n)
    b.info.update(ops=n, op_wall_s=[round(w, 3) for w in ops.wall], op_cpu_s=[round(c, 2) for c in ops.cpu],
                  cold_op_s=pre.wall[0] if pre.wall else None, warmup_ops=b.warmup_ops(),
                  warmup_op_wall_s=[round(w, 3) for w in pre.wall[1:]],
                  session_start_s=b.session_start_s,
                  tail_percentile=q, tail_s=measure.percentile(ops.wall, q) if q else None,
                  # not gated: the JVM's heap growth under the 32g default
                  # varies by a third between runs
                  peak_rss_mb=b.peak_rss_mb())
    values = {
        "setup_s": setup_s,
        "items_per_s": ops.items_per_s(),
        "items_per_cpu_s": ops.items_per_cpu_s(),
        "op_p50_s": measure.median(ops.wall),
        "ok_frac": (attempted - failed) / attempted,
    }
    return result(attempted, failed, {k: (values[k], u) for k, u in END_TO_END_UNITS.items()})


def result(attempted: int, failed: int, metrics: dict) -> dict:
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


# --- read API -------------------------------------------------------------------------


class Reads:
    """The read API under a seeded request stream."""

    def __init__(self, b: Bench, scale: float = 1.0):
        self.b = b
        self.paths = b.helper(loadgen.write_read_tables, os.path.join(b.work, "in", "read"), b.args.seed, scale)
        self.reqs = b.helper(loadgen.request_stream, b.args.seed, REQUESTS)

    def open(self) -> layers.ReadApi:
        """A server over the tables with its own, empty response cache."""
        from otel_kafka_pg_spark.plans.cache import ResultCache

        # TTL longer than any run: a repeat always hits
        return layers.ReadApi(self.b.spark, self.paths, ResultCache(ttl_s=3600.0))

    def _check(self, ops: Ops, req: dict, got: dict) -> bool:
        errs = self.b.helper(loadgen.check_response, self.paths, req, got)
        if errs:
            ops.fail("; ".join(errs))
        return not errs

    def op(self, i: int, ops: Ops, api: layers.ReadApi) -> None:
        req = self.reqs[i]
        done = _attempt(ops, f"request {i}", lambda: _timed(self.b, lambda: api.serve(req)))
        if done is not None and self._check(ops, req, done[0]):
            ops.add(done[1], done[2], 1, (req["kind"], req["repeat"]))

    def traced_op(self, i: int, ops: Ops, t: "LayerTrace", api: layers.ReadApi) -> None:
        """One request with a span and a job group per statement."""
        req, tracer = self.reqs[i], t.tracer
        tracer.new_trace()
        got, stmts = {}, []

        def serve():
            with tracer.span("read.request"):
                for name, build in api.statements(req).items():
                    group = f"r{i}.{name}"
                    with tracer.span(f"read.{name}") as sp:
                        got[layers.response_key(req["kind"], name)], hit = t.groups.run(
                            group, lambda: api.serve_statement(req, name, build))
                    stmts.append((name, hit, sp.duration, t.groups.metrics(group, sp.start, sp.end)))

        done = _attempt(ops, f"request {i}", lambda: _timed(self.b, serve))
        if done is not None and self._check(ops, req, got):
            ops.add(done[1], done[2], 1, (req["kind"], req["repeat"]))
            t.requests.append(stmts)


def run_api(b: Bench) -> dict:
    t = time.monotonic()
    reads = Reads(b)
    b.gen_s += time.monotonic() - t
    b.mark("generate")
    b.start_session()
    b.mark("session")
    api = reads.open()
    setup_pre = measure.process_age_s() - b.gen_s
    pre = Ops()  # the cold request and the warm-up requests: checked, not measured
    reads.op(0, pre, api)
    setup_s = setup_pre + pre.wall[0] if pre.wall else None
    b.mark("cold_op")
    # the traced run's twin server is warmed on the same requests, so its
    # cache holds the same entries as the plain server's
    servers = [api, reads.open()] if b.args.trace else [api]
    for server in servers[1:]:
        reads.op(0, pre, server)
    warm = b.warmup_ops()
    for i in range(1, warm + 1):
        for server in servers:
            reads.op(i, pre, server)
    b.mark("warmup")
    if b.args.trace:
        return trace_api(b, reads, *servers, pre, warm + 1)

    ops = Ops()
    hits0 = api.cache.hits
    measured = range(warm + 1, warm + 1 + b.n_ops())
    for i in measured:
        if b.elapsed() >= WALL_LIMIT_S:
            break
        reads.op(i, ops, api)
    b.mark("measured")
    served = [reads.reqs[i] for i in measured]
    b.info.update(repeat_share=sum(r["repeat"] for r in served) / len(served),
                  statement_cache_hits=api.cache.hits - hits0)
    return end_to_end(b, ops, pre, setup_s)


# --- traced runs ------------------------------------------------------------------------

# layers whose spans the traced run records, in DAG order
PREFIX_METRICS = ("self_s", "task_cpu_s", "gc_s", "driver_s", "tasks")
SPARK_SPAN_METRICS = ("task_cpu_s", "gc_s", "driver_s", "jobs", "tasks", "failed_tasks", "shuffle_write_mb",
                      "spill_mb")
SINK_NAMES = ("traces", "logs", "metrics", "sink_counts")
READ_STATEMENTS = ("page", "service_counts", "severity_counts", "total", "trace_groups", "percentiles")
# the read side traced on the ingest workloads, and the ingest side on api-read
PROBE_REQUESTS = 8
PROBE_READ_SCALE = 0.25

UNITS = {"_s": "s", "_mb": "MB", "jobs": "count", "tasks": "count", "hits": "count", "misses": "count",
         "requests": "count", "task_skew": "ratio", "hit_ratio": "fraction", "accounted_frac": "fraction"}


def _unit(name: str) -> str:
    if name.endswith("items_per_s"):
        return "1/s"
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    raise KeyError(name)


def per_layer_names() -> list[str]:
    """Every per-layer metric the traced run prints, in output order."""
    names = [f"{layer}.{m}" for layer in layers.PREFIX_LAYERS for m in PREFIX_METRICS]
    names += ["scan.input_mb", "order.shuffle_write_mb", "order.spill_mb", "order.task_skew"]
    names += ["persist.self_s", "persist.cached_mb"] + [f"persist.{m}" for m in SPARK_SPAN_METRICS]
    names += [f"sink.{s}.{m}" for s in SINK_NAMES for m in ("write_s", "output_mb", "jobs", "task_cpu_s", "driver_s")]
    names += ["manifest.fingerprint_s", "manifest.save_s", "session.start_s", "ingest.traced_op_s",
              "ingest.accounted_frac", "ingest.trace_overhead_items_per_s"]
    names += [f"read.{s}_s" for s in READ_STATEMENTS]
    names += ["read.jobs", "read.tasks", "read.task_cpu_s", "read.driver_s", "read.trace_overhead_items_per_s"]
    names += ["cache.hits", "cache.misses", "cache.requests", "cache.hit_ratio", "cache.hit_s", "cache.miss_s"]
    return names


class LayerTrace:
    """What the traced run collects; spans stay in memory until exit."""

    def __init__(self, b: Bench):
        self.tracer = measure.Tracer(clock=time.time)
        self.groups = layers.JobGroups(b.spark)
        self.prefixes: list[dict] = []
        self.pipelines: list[dict] = []
        self.requests: list[list] = []
        self.ingest_ops = (Ops(), Ops())  # untraced, traced
        self.read_ops = (Ops(), Ops())
        self.side_ops = Ops()  # cold ops of the other side's probe, checked but not timed

    def ingest_pairs(self, ing: Ingest, first: int, stop) -> None:
        """On each input: the prefix probe, then a plain op and a traced op,
        in alternating order so neither side always runs warm."""
        i = first
        while not stop():
            path, expected = ing.make_input(i)
            self.tracer.new_trace()
            self.prefixes.append(layers.prefix_probe(ing.b.spark, self.groups, path, i))
            plain, traced = self.ingest_ops
            sides = [lambda: ing.op(i, plain, path, expected),
                     lambda: ing.traced_op(i, traced, path, expected, self)]
            got = [side() for side in sides[:: 1 if i % 2 else -1]][:: 1 if i % 2 else -1]
            if None not in got and _signature(got[0]) != _signature(got[1]):
                traced.fail(f"rebuilt pipeline drifted from run_pipeline on input {i}: "
                            f"{_signature(got[1])} vs {_signature(got[0])}")
            ing.release(path)
            i += 1

    def read_pairs(self, reads: Reads, plain: layers.ReadApi, traced: layers.ReadApi, first: int, stop) -> None:
        """Serve each request of the stream twice: plain, and traced on a
        twin server whose own cache sees the same hits and misses; the
        order alternates so neither side always runs warm. After the stop,
        the next new trace_groups and percentiles requests are served too,
        so every read statement has a traced miss."""
        i = first
        while not stop():
            self._pair(reads, plain, traced, i)
            i += 1
        for kind in ("trace_groups", "percentiles"):
            self._pair(reads, plain, traced, next(
                j for j in range(i, len(reads.reqs)) if reads.reqs[j]["kind"] == kind and not reads.reqs[j]["repeat"]))

    def _pair(self, reads: Reads, plain: layers.ReadApi, traced: layers.ReadApi, i: int) -> None:
        sides = [lambda: reads.op(i, self.read_ops[0], plain),
                 lambda: reads.traced_op(i, self.read_ops[1], self, traced)]
        for side in sides[:: 1 if i % 2 else -1]:
            side()

    def metrics(self, b: Bench, cache) -> dict:
        med = measure.median
        out = {}
        for layer in layers.PREFIX_LAYERS:
            for m in PREFIX_METRICS:
                out[f"{layer}.{m}"] = med([p[layer][m] for p in self.prefixes])
        out["scan.input_mb"] = med([p["scan"]["input_mb"] for p in self.prefixes])
        for m in ("shuffle_write_mb", "spill_mb", "task_skew"):
            out[f"order.{m}"] = med([p["order"][m] for p in self.prefixes])
        spans = self.tracer.spans
        ops = [(k, s) for k, s in enumerate(spans) if s.name == "ingest.op"]
        dag_s = [sum(p[layer]["self_s"] for layer in layers.PREFIX_LAYERS) for p in self.prefixes]

        def in_op(op_idx, name):
            return [s.duration for s in spans if s.name == name and s.parent == op_idx]

        persist = [in_op(k, "persist")[0] for k, _ in ops]
        out["persist.self_s"] = med([w - d for w, d in zip(persist, dag_s)])
        out["persist.cached_mb"] = med([r["spark"]["persist"]["cached_mb"] for r in self.pipelines])
        for m in SPARK_SPAN_METRICS:
            out[f"persist.{m}"] = med([r["spark"]["persist"][m] for r in self.pipelines])
        for s in SINK_NAMES:
            out[f"sink.{s}.write_s"] = med([in_op(k, f"sink.{s}")[0] for k, _ in ops])
            for m in ("output_mb", "jobs", "task_cpu_s", "driver_s"):
                out[f"sink.{s}.{m}"] = med([r["spark"][f"sink.{s}"][m] for r in self.pipelines])
        out["manifest.fingerprint_s"] = med([in_op(k, "manifest.fingerprint")[0] for k, _ in ops])
        out["manifest.save_s"] = med([sum(in_op(k, "manifest.save")) for k, _ in ops])
        out["session.start_s"] = b.session_start_s
        out["ingest.traced_op_s"] = med([s.duration for _, s in ops])
        # the prefix marginals (the whole DAG), persist's own cost, the sink
        # writes, the manifest work, building the DAG and unpersisting should
        # add up to the traced op; the rest is driver time between the spans
        parts = [d + (p - d) + sum(sum(in_op(k, name)) for name in (
                     *(f"sink.{s}" for s in SINK_NAMES), "manifest.fingerprint", "manifest.save",
                     "plan", "unpersist"))
                 for (k, _), p, d in zip(ops, persist, dag_s)]
        out["ingest.accounted_frac"] = med([x / s.duration for x, (_, s) in zip(parts, ops)])
        plain, traced = self.ingest_ops
        out["ingest.trace_overhead_items_per_s"] = traced.items_per_s() - plain.items_per_s()

        hits = [(n, d) for req in self.requests for n, hit, d, _ in req if hit]
        misses = [(n, d) for req in self.requests for n, hit, d, _ in req if not hit]
        for s in READ_STATEMENTS:
            out[f"read.{s}_s"] = med([d for n, d in misses if n == s])
        for m in ("jobs", "tasks", "task_cpu_s", "driver_s"):
            out[f"read.{m}"] = med([sum(sm[m] for *_, sm in req) for req in self.requests])
        plain, traced = self.read_ops
        out["read.trace_overhead_items_per_s"] = traced.items_per_s() - plain.items_per_s()
        out["cache.hits"], out["cache.misses"] = cache.hits, cache.misses
        out["cache.requests"] = cache.hits + cache.misses
        out["cache.hit_ratio"] = cache.hits / (cache.hits + cache.misses)
        out["cache.hit_s"] = med([d for _, d in hits])
        out["cache.miss_s"] = med([d for _, d in misses])
        return {k: (out[k], _unit(k)) for k in per_layer_names()}

    def dump(self, b: Bench, metrics: dict) -> None:
        """Write the spans and every layer figure, once, at exit."""
        d = os.path.join(HERE, ".work", "traces")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{b.args.workload}-seed{b.args.seed}-{os.getpid()}.json")
        with open(path, "w") as f:
            json.dump({"info": b.info, "metrics": metrics, "prefixes": self.prefixes,
                       "pipelines": [r["spark"] for r in self.pipelines],
                       "spans": [vars(s) for s in self.tracer.spans]}, f, indent=1, default=str)
        b.info["trace_file"] = os.path.relpath(path, ROOT)


def _traced_result(b: Bench, t: LayerTrace, cache, pre: Ops) -> dict:
    metrics = t.metrics(b, cache)
    t.dump(b, metrics)
    all_ops = [pre, t.side_ops, *t.ingest_ops, *t.read_ops]
    return result(sum(o.attempted for o in all_ops), sum(o.failed for o in all_ops), metrics)


def trace_ingest(b: Bench, ing: Ingest, pre: Ops, first: int) -> dict:
    t = LayerTrace(b)
    t.ingest_pairs(ing, first, lambda: sum(t.ingest_ops[0].wall) + sum(t.ingest_ops[1].wall) >= b.args.seconds
                   or b.elapsed() >= WALL_LIMIT_S)
    reads = Reads(b, PROBE_READ_SCALE)
    plain, traced = reads.open(), reads.open()
    reads.op(0, t.side_ops, plain)  # the read side's own cold request, not traced
    reads.op(0, t.side_ops, traced)
    t.read_pairs(reads, plain, traced, 1, lambda: t.read_ops[1].attempted >= PROBE_REQUESTS)
    return _traced_result(b, t, traced.cache, pre)


def trace_api(b: Bench, reads: Reads, plain: layers.ReadApi, traced: layers.ReadApi, pre: Ops, first: int) -> dict:
    t = LayerTrace(b)
    t.read_pairs(reads, plain, traced, first, lambda: sum(t.read_ops[0].wall) + sum(t.read_ops[1].wall)
                 >= b.args.seconds or b.elapsed() >= WALL_LIMIT_S)
    ing = Ingest(b, small=True, tag="probe")
    path, expected = ing.make_input(0)
    ing.op(0, t.side_ops, path, expected)  # the ingest side's own cold op, not traced
    ing.release(path)
    t.ingest_pairs(ing, 1, lambda: t.ingest_ops[1].attempted >= 2)
    return _traced_result(b, t, traced.cache, pre)


def main(argv=None) -> int:
    args = parse_args(argv)
    b = Bench(args)
    try:
        if args.workload == "api-read":
            out = run_api(b)
        else:
            out = run_ingest(b, small=args.workload == "ingest-small")
    finally:
        b.close()
        b.mark("close")
    print(json.dumps({"info": b.info}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
