"""Spark-side calls of the benchmark: the program's public entry points,
and the traced variants that time each layer from outside.

Per-layer Spark metrics come from job groups: every traced call runs under
``setJobGroup(<layer>)``, and afterwards the group's jobs and stages are read
back through ``statusTracker()`` and the status store, which works with the
UI disabled as ``session.get_spark`` runs it.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from measure import Tracer, covered, median
from otel_kafka_pg_spark.functions.parse import parse_turns
from otel_kafka_pg_spark.operators.aggregate import (
    EventFilter,
    query_events,
    service_metrics_percentiles,
    trace_groups,
)
from otel_kafka_pg_spark.operators.enrich import enrich_with_lookup
from otel_kafka_pg_spark.operators.order import with_stable_order
from otel_kafka_pg_spark.operators.route import SINK_BUILDERS, classify_signal, sink_counts, with_attributes
from otel_kafka_pg_spark.plans.manifest import input_fingerprint, save_manifest, write_with_summary
from otel_kafka_pg_spark.plans.pipeline import run_pipeline
from otel_kafka_pg_spark.sources.synth import service_lookup_pandas

MB = 1024 * 1024


# --- the program's public entry points -------------------------------------------


def ingest(spark: SparkSession, in_path: str, out_dir: str) -> dict:
    """One ingest op: the default pipeline over a fresh output directory."""
    return run_pipeline(spark, in_path, out_dir, resume=False)


class ReadApi:
    """The read side as an API server holds it: the tables opened once, and
    every request answered through the response cache."""

    def __init__(self, spark: SparkSession, paths: dict[str, str], cache):
        self.tables = {name: spark.read.parquet(p) for name, p in paths.items()}
        self.cache = cache

    def statements(self, req: dict) -> dict:
        """name → zero-argument builder of that statement's DataFrame."""
        t = self.tables
        if req["kind"] == "logs":
            def stmt(name):
                return lambda: query_events(
                    t["events"], EventFilter(**req["filter"]), req["sort"], req["descending"],
                    req["limit"], req["offset"],
                )[name]
            return {n: stmt(n) for n in ("page", "service_counts", "severity_counts", "total")}
        lo, hi = F.to_date(F.lit(req["start"])), F.to_date(F.lit(req["end"]))
        if req["kind"] == "trace_groups":
            return {"trace_groups": lambda: trace_groups(
                t["orders"].filter(F.col("o_orderdate").cast("date").between(lo, hi)), req["k"])}
        return {"percentiles": lambda: service_metrics_percentiles(
            t["lineitem"].filter(F.col("l_shipdate").cast("date").between(lo, hi)))}

    def serve_statement(self, req: dict, name: str, build) -> tuple[object, bool]:
        params = {k: v for k, v in req.items() if k != "repeat"}
        df, hit = self.cache.get_or_build(name, params, build)
        return _response(req["kind"], name, df.collect()), hit

    def serve(self, req: dict) -> dict:
        """One request; returns the response in the oracle's shape."""
        out = {}
        for name, build in self.statements(req).items():
            out[response_key(req["kind"], name)], _ = self.serve_statement(req, name, build)
        return out


def response_key(kind: str, name: str) -> str:
    """Where a statement's result sits in the response (the oracle's shape)."""
    return name if kind == "logs" else "rows"


def _plain(v):
    return v.isoformat(sep=" ") if hasattr(v, "isoformat") else v


def _response(kind: str, name: str, rows) -> object:
    if kind != "logs":
        return [[_plain(v) for v in r] for r in rows]
    if name == "page":
        return [r["event_id"] for r in rows]
    if name == "total":
        return int(rows[0]["total"])
    return [[r["event_type"], int(r["cnt"])] for r in rows]


# --- job-group metrics -----------------------------------------------------------


class JobGroups:
    """Runs calls under a Spark job group and reads the group's work back."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def run(self, group: str, fn):
        self.sc.setJobGroup(group, group)
        try:
            return fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def metrics(self, group: str, lo_s: float, hi_s: float, skew: bool = False) -> dict:
        """Work of the group's jobs; ``driver_s`` is the part of [lo_s, hi_s]
        (epoch seconds) that no job's submit→complete interval covers."""
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group)
        out = dict(jobs=len(job_ids), tasks=0, failed_tasks=0, task_cpu_s=0.0, task_run_s=0.0, gc_s=0.0,
                   shuffle_write_mb=0.0, spill_mb=0.0, input_mb=0.0, output_mb=0.0)
        intervals, stage_ids = [], set()
        for jid in job_ids:
            job = store.job(jid)
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                intervals.append((sub.get().getTime() / 1000, end.get().getTime() / 1000))
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        worst = None
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                continue
            out["tasks"] += st.numCompleteTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["task_run_s"] += st.executorRunTime() / 1e3
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["spill_mb"] += (st.diskBytesSpilled() + st.memoryBytesSpilled()) / MB
            out["input_mb"] += st.inputBytes() / MB
            out["output_mb"] += st.outputBytes() / MB
            if skew and st.shuffleReadBytes() > 0 and (worst is None or st.executorRunTime() > worst[1]):
                worst = (st, st.executorRunTime())
        out["driver_s"] = (hi_s - lo_s) - covered(intervals, lo_s, hi_s)
        if skew:
            out["task_skew"] = self._skew(store, worst[0]) if worst else 1.0
        return out

    @staticmethod
    def _skew(store, st) -> float:
        """max / median task duration of one stage attempt."""
        tasks = store.taskList(st.stageId(), st.attemptId(), 100_000)
        durs = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                durs.append(float(d.get()))
        return max(durs) / max(median(durs), 1.0) if durs else 1.0


# --- traced ingest -------------------------------------------------------------------

PREFIX_LAYERS = ("scan", "parse", "order", "enrich", "classify", "attrs")


def _prefixes(spark: SparkSession, in_path: str, lookup: DataFrame) -> list[tuple[str, DataFrame]]:
    df = spark.read.parquet(in_path)
    out = [("scan", df)]
    for name, step in (
        ("parse", parse_turns),
        ("order", with_stable_order),
        ("enrich", lambda d: enrich_with_lookup(d, lookup)),
        ("classify", classify_signal),
        ("attrs", with_attributes),
    ):
        df = step(df)
        out.append((name, df))
    return out


def prefix_probe(spark: SparkSession, groups: JobGroups, in_path: str, n: int) -> dict:
    """Write each cumulative DAG prefix to the ``noop`` sink; a layer's
    self time is its prefix's wall time minus the previous prefix's."""
    lookup = spark.createDataFrame(service_lookup_pandas())
    res, prev = {}, None
    for name, df in _prefixes(spark, in_path, lookup):
        group = f"{n}.prefix.{name}"
        t0 = time.time()
        groups.run(group, lambda: df.write.format("noop").mode("overwrite").save())
        t1 = time.time()
        m = groups.metrics(group, t0, t1, skew=(name == "order"))
        m["wall_s"] = t1 - t0
        cur = dict(m)
        if prev is not None:
            for k in ("wall_s", "task_cpu_s", "task_run_s", "gc_s", "driver_s", "shuffle_write_mb", "spill_mb"):
                cur[k] = m[k] - prev[k]
        cur["self_s"] = cur.pop("wall_s")
        res[name] = cur
        prev = m
    return res


def traced_pipeline(spark: SparkSession, groups: JobGroups, tracer: Tracer, in_path: str, out_dir: str, n: int) -> dict:
    """The default pipeline rebuilt from its public functions, one span and
    one job group per layer boundary. Returns its manifest (the shape of
    ``run_pipeline``'s) and each span's Spark metrics, which are read back
    after the op's span has closed."""
    timed = []  # (span name, group, span)

    def spark_span(name, fn):
        group = f"{n}.{name}"
        with tracer.span(name) as sp:
            out = groups.run(group, fn)
        timed.append((name, group, sp))
        return out

    with tracer.span("ingest.op"):
        with tracer.span("manifest.fingerprint"):
            fp = input_fingerprint(in_path)
        with tracer.span("plan"):  # the lookup frame and the analysed DAG
            lookup = spark.createDataFrame(service_lookup_pandas())
            routed = with_attributes(classify_signal(enrich_with_lookup(
                with_stable_order(parse_turns(spark.read.parquet(in_path))), lookup))).persist()
        try:
            spark_span("persist", routed.count)
            cached_mb = _cached_mb(spark)
            manifest = {"input_fingerprint": fp, "sinks": {}}
            for name, build in {**SINK_BUILDERS, "sink_counts": sink_counts}.items():
                dest = os.path.join(out_dir, name)
                rows, chash, lineage = spark_span(f"sink.{name}", lambda: write_with_summary(build(routed), dest))
                manifest["sinks"][name] = {"status": "complete", "rows": rows, "content_hash": chash,
                                           "path": dest, "lineage": lineage}
                with tracer.span("manifest.save"):
                    save_manifest(out_dir, manifest)
        finally:
            with tracer.span("unpersist"):
                routed.unpersist()
    spans = {name: groups.metrics(group, sp.start, sp.end) for name, group, sp in timed}
    spans["persist"]["cached_mb"] = cached_mb
    return {"manifest": manifest, "spark": spans}


def _cached_mb(spark: SparkSession) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB
