"""Load generator and output oracles for the benchmark.

Runs in a helper process next to the program under test: it writes every
input from the workload seed, produces the read-API request stream, and
checks outputs with DuckDB. None of its CPU or memory is charged to the
program. ``serve`` is the helper's main loop; every function it calls is
a plain module-level function.
"""

from __future__ import annotations

import json
import os
import pickle
import sys
import traceback

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from otel_kafka_pg_spark.sources.synth import synth_transcripts_pandas

SINKS = ("traces", "logs", "metrics")
SIGNAL_OF = {"traces": "trace", "logs": "log", "metrics": "metric"}
# small row groups so a single input file still splits across every core
ROW_GROUP_ROWS = 32_768


def sub_seed(seed: int, *tags) -> int:
    """Independent, reproducible seed for one input derived from the
    workload seed (tags name the input, e.g. ("small", 3))."""
    words = [seed] + [t if isinstance(t, int) else int.from_bytes(str(t).encode(), "little") for t in tags]
    return int(np.random.SeedSequence(words).generate_state(1)[0])


def _write(pdf: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path, row_group_size=ROW_GROUP_ROWS)


# --- ingest inputs and their oracle -------------------------------------------

# the independent SQL re-derivation of parse + routing, the same shape as
# the _PIPE_SQL_CTE oracle behind the registry's pipeline entries
_ROUTED_CTE = (
    "t AS (SELECT * FROM read_parquet('{path}')), "
    "p AS (SELECT conv_id, turn_idx, role, tool, ts, "
    "regexp_extract(text, 'trace=([0-9a-f]{{32}})', 1) AS trace_id, "
    "regexp_extract(text, 'span=([0-9a-f]{{16}})', 1) AS span_id, "
    "regexp_extract(text, 'metric:([A-Za-z_][A-Za-z0-9_]*)=', 1) AS metric_name FROM t), "
    "routed AS (SELECT *, CASE WHEN trace_id != '' AND span_id != '' THEN 'trace' "
    "WHEN metric_name != '' THEN 'metric' ELSE 'log' END AS signal_type FROM p)"
)


def write_transcripts(path: str, n_turns: int, seed: int, files: int = 1) -> dict:
    """Write one transcript batch and return what the pipeline must produce
    from it: rows per sink and the number of sink_counts groups. With
    ``files > 1`` the batch is a directory of that many equal part files,
    the way a landed bulk batch arrives."""
    pdf = synth_transcripts_pandas(n_turns, seed)
    if files == 1:
        _write(pdf, path)
        pattern = path
    else:
        bounds = np.linspace(0, len(pdf), files + 1).astype(int)
        for i in range(files):
            _write(pdf.iloc[bounds[i]:bounds[i + 1]], os.path.join(path, f"part-{i:05d}.parquet"))
        pattern = os.path.join(path, "*.parquet")
    cte = _ROUTED_CTE.format(path=pattern)
    con = duckdb.connect()
    try:
        per = dict(con.execute(f"WITH {cte} SELECT signal_type, count(*) FROM routed GROUP BY 1").fetchall())
        groups = con.execute(
            f"WITH {cte} SELECT count(*) FROM (SELECT DISTINCT signal_type, conv_id, role, tool, "
            "date_trunc('hour', ts) FROM routed)"
        ).fetchone()[0]
    finally:
        con.close()
    return {
        "turns": n_turns,
        "rows": {s: int(per.get(SIGNAL_OF[s], 0)) for s in SINKS},
        "sink_counts_rows": int(groups),
    }


def check_ingest(out_dir: str, manifest: dict, expected: dict) -> list[str]:
    """Compare one pipeline run's written sinks and manifest with the
    oracle. Returns the list of mismatches (empty when correct)."""
    errs = []
    con = duckdb.connect()
    try:
        for sink in SINKS:
            got = con.execute(f"SELECT count(*) FROM read_parquet('{out_dir}/{sink}/*.parquet')").fetchone()[0]
            want = expected["rows"][sink]
            m_rows = manifest["sinks"][sink]["rows"]
            if not got == want == m_rows:
                errs.append(f"{sink}: written {got}, manifest {m_rows}, oracle {want}")
        counts = dict(
            con.execute(
                f"SELECT sink, sum(n) FROM read_parquet('{out_dir}/sink_counts/*.parquet') GROUP BY 1"
            ).fetchall()
        )
        groups = manifest["sinks"]["sink_counts"]["rows"]
        if groups != expected["sink_counts_rows"]:
            errs.append(f"sink_counts: {groups} groups, oracle {expected['sink_counts_rows']}")
        for sink in SINKS:
            if int(counts.get(SIGNAL_OF[sink], 0)) != expected["rows"][sink]:
                errs.append(f"sink_counts[{sink}]: {counts.get(SIGNAL_OF[sink])}, oracle {expected['rows'][sink]}")
    finally:
        con.close()
    return errs


# --- read-API tables ------------------------------------------------------------

EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")
ORDERS_T0 = np.datetime64("1995-01-01", "D")
READ_TABLE_ROWS = {"events": 100_000, "orders": 150_000, "lineitem": 600_000}


def write_read_tables(root: str, seed: int, scale: float = 1.0) -> dict[str, str]:
    """Seeded log table (``events``) and trace-side tables (``orders``,
    ``lineitem``) in the shape of the sf0.1 star-schema test tables."""
    rng = np.random.default_rng(sub_seed(seed, "read-tables"))
    n_ev, n_or, n_li = (max(1000, int(READ_TABLE_ROWS[t] * scale)) for t in ("events", "orders", "lineitem"))
    month_us = 30 * 24 * 3600 * 10**6
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": EVENTS_T0 + rng.integers(0, month_us, n_ev).astype("timedelta64[us]"),
            "user_id": rng.integers(0, 1500, n_ev, dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.gamma(2.0, 40.0, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(1, n_or + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, max(2, n_or // 10), n_or, dtype=np.int64),
            "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), n_or),
            "o_totalprice": np.round(rng.uniform(900, 500_000, n_or), 2),
            "o_orderdate": (ORDERS_T0 + rng.integers(0, 2405, n_or).astype("timedelta64[D]")).astype("datetime64[us]"),
            "o_orderpriority": rng.choice(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_or),
        }
    )
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(1, n_or + 1, n_li, dtype=np.int64),
            "l_partkey": rng.integers(1, 20_000, n_li, dtype=np.int64),
            "l_suppkey": rng.integers(1, 1000, n_li, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
            "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
            "l_returnflag": rng.choice(np.array(["N", "A", "R"]), n_li),
            "l_linestatus": rng.choice(np.array(["O", "F"]), n_li),
            "l_shipdate": (ORDERS_T0 + rng.integers(0, 2500, n_li).astype("timedelta64[D]")).astype("datetime64[us]"),
        }
    )
    paths = {}
    for name, pdf in (("events", events), ("orders", orders), ("lineitem", lineitem)):
        paths[name] = os.path.join(root, f"{name}.parquet")
        _write(pdf, paths[name])
    return paths


# --- read-API request stream ------------------------------------------------------

# every third request repeats an earlier parameter set, and among new
# requests one in twenty is trace_groups and one in twenty percentiles:
# fixed shares, so a run's mix does not depend on the seed or on how many
# requests it gets through; the seed draws the parameters and which
# earlier set a repeat re-sends. Hits are ~10x faster than misses and the
# trace-side misses faster than log misses, so the median request sits
# well inside the log-miss cluster only while trace-side requests stay rare.
REPEAT_EVERY = 3
KIND_CYCLE = ("logs",) * 9 + ("trace_groups",) + ("logs",) * 9 + ("percentiles",)
SORTS = ("time", "value", "id")


def _day(origin, days: int) -> str:
    return str(np.datetime64(origin, "D") + np.timedelta64(int(days), "D"))


def _new_request(rng: np.random.Generator, kind: str) -> dict:
    if kind == "logs":
        flt = {}
        if rng.random() < 0.7:
            start = int(rng.integers(0, 29))
            flt["start_ts"] = _day(EVENTS_T0, start) + " 00:00:00"
            flt["end_ts"] = _day(EVENTS_T0, min(29, start + int(rng.choice([0, 2, 6, 13])))) + " 23:59:59"
        r = rng.random()
        if r < 0.4:
            flt["types_in"] = sorted(rng.choice(EVENT_TYPES, int(rng.integers(1, 4)), replace=False).tolist())
        elif r < 0.6:
            flt["type_eq"] = str(rng.choice(EVENT_TYPES))
        if rng.random() < 0.5:
            flt["min_value"] = float(rng.choice([5.0, 50.0, 100.0]))
        if rng.random() < 0.2:
            flt["max_value"] = float(rng.choice([300.0, 500.0]))
        if rng.random() < 0.1:
            flt["require_props"] = True
        if rng.random() < 0.25:
            flt["search"] = str(rng.choice(["*", "ick", '"k": 4', "err"]))
        return {
            "kind": "logs",
            "filter": flt,
            "sort": str(rng.choice(SORTS)),
            "descending": bool(rng.random() < 0.7),
            "limit": int(rng.choice([0, 10, 50, 500])),
            "offset": int(rng.choice([0, 0, 20, 100])),
        }
    start = np.datetime64("1995-01", "M") + np.timedelta64(int(rng.integers(0, 72)), "M")
    end = start + np.timedelta64(int(rng.choice([6, 12, 24, 48])), "M") - np.timedelta64(1, "D")
    req = {"kind": kind, "start": str(np.datetime64(start, "D")), "end": str(end)}
    if kind == "trace_groups":
        req["k"] = int(rng.choice([10, 50, 100]))
    return req


def request_stream(seed: int, n: int) -> list[dict]:
    """``n`` requests; every REPEAT_EVERY-th re-sends a uniformly chosen
    earlier parameter set (``repeat`` marks it), the traffic a response
    cache exists for. The others are new: a draw that equals an earlier set
    is drawn again, so the share of cache hits does not depend on the seed."""
    rng = np.random.default_rng(sub_seed(seed, "requests"))
    distinct: list[dict] = []
    seen: set[str] = set()
    out = []
    for i in range(n):
        if i % REPEAT_EVERY == REPEAT_EVERY - 1:
            out.append({**distinct[int(rng.integers(0, len(distinct)))], "repeat": True})
            continue
        kind = KIND_CYCLE[len(distinct) % len(KIND_CYCLE)]
        req = _new_request(rng, kind)
        while json.dumps(req, sort_keys=True) in seen:
            req = _new_request(rng, kind)
        seen.add(json.dumps(req, sort_keys=True))
        distinct.append(req)
        out.append({**req, "repeat": False})
    return out


# --- read-API oracle --------------------------------------------------------------

_RANK = "CASE event_type WHEN 'error' THEN 1 WHEN 'signup' THEN 2 WHEN 'purchase' THEN 3 " \
    "WHEN 'click' THEN 4 WHEN 'view' THEN 5 ELSE 6 END"
_SORT_COL = {"time": "ts", "value": "value", "id": "event_id"}


def _lit(v) -> str:
    return "'" + str(v).replace("'", "''") + "'"


def _event_where(flt: dict) -> str:
    conds = ["TRUE"]
    if flt.get("start_ts"):
        conds.append(f"ts >= TIMESTAMP {_lit(flt['start_ts'])}")
    if flt.get("end_ts"):
        conds.append(f"ts <= TIMESTAMP {_lit(flt['end_ts'])}")
    if flt.get("types_in"):
        conds.append("event_type IN (" + ",".join(_lit(t) for t in flt["types_in"]) + ")")
    if flt.get("type_eq") is not None:
        conds.append(f"event_type = {_lit(flt['type_eq'])}")
    if flt.get("require_props"):
        conds.append("props IS NOT NULL AND props != ''")
    if flt.get("min_value") is not None:
        conds.append(f"value >= {flt['min_value']}")
    if flt.get("max_value") is not None:
        conds.append(f"value <= {flt['max_value']}")
    if flt.get("search") and flt["search"] != "*":
        q = _lit(flt["search"].lower())
        conds.append(f"(contains(lower(props), {q}) OR contains(lower(event_type), {q}))")
    return " AND ".join(conds)


def clamp_limit(requested: int, default: int = 20, maximum: int = 100) -> int:
    return default if requested <= 0 else min(requested, maximum)


def expected_response(paths: dict[str, str], req: dict) -> dict:
    """The DuckDB answer to one request, in the shape ``run.serve`` returns."""
    con = duckdb.connect()
    try:
        for name, p in paths.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet({_lit(p)})")
        if req["kind"] == "logs":
            where = _event_where(req["filter"])
            col = _SORT_COL.get(req["sort"], "ts")
            direction = "DESC" if req["descending"] else "ASC"
            page = con.execute(
                f"SELECT event_id FROM events WHERE {where} ORDER BY {col} {direction}, event_id "
                f"LIMIT {clamp_limit(req['limit'])} OFFSET {max(0, req['offset'])}"
            ).fetchall()
            svc = con.execute(
                f"SELECT event_type, count(*) AS cnt FROM events WHERE {where} GROUP BY 1 "
                "ORDER BY cnt DESC, event_type LIMIT 20"
            ).fetchall()
            sev = con.execute(
                f"SELECT event_type, count(*) FROM events WHERE {where} GROUP BY 1 ORDER BY {_RANK}"
            ).fetchall()
            total = con.execute(f"SELECT count(*) FROM events WHERE {where}").fetchone()[0]
            return {
                "page": [r[0] for r in page],
                "service_counts": [list(r) for r in svc],
                "severity_counts": [list(r) for r in sev],
                "total": int(total),
            }
        if req["kind"] == "trace_groups":
            rows = con.execute(
                "SELECT o_custkey, min(o_orderdate), max(o_orderdate), count(*) AS n, "
                "round(sum(o_totalprice), 2), "
                "array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') "
                f"FROM orders WHERE o_orderdate BETWEEN DATE {_lit(req['start'])} AND DATE {_lit(req['end'])} "
                f"GROUP BY o_custkey ORDER BY n DESC, o_custkey LIMIT {req['k']}"
            ).fetchall()
        else:
            rows = con.execute(
                "SELECT l_returnflag, count(*), round(avg(l_extendedprice), 3), "
                "round(quantile_cont(l_extendedprice, 0.95), 3), round(quantile_cont(l_extendedprice, 0.99), 3) "
                f"FROM lineitem WHERE l_shipdate BETWEEN DATE {_lit(req['start'])} AND DATE {_lit(req['end'])} "
                "GROUP BY 1 ORDER BY 1"
            ).fetchall()
        return {"rows": [[_plain(v) for v in r] for r in rows]}
    finally:
        con.close()


def _plain(v):
    return v.isoformat(sep=" ") if hasattr(v, "isoformat") else v


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        # both engines round the same double sums; allow one unit in the
        # last rounded place for summation-order differences
        return a is not None and b is not None and abs(float(a) - float(b)) <= 1e-3 + 1e-12 * abs(float(b))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def check_response(paths: dict[str, str], req: dict, got: dict) -> list[str]:
    want = expected_response(paths, req)
    return [f"{req['kind']}.{k}: got {str(got.get(k))[:120]} want {str(v)[:120]}"
            for k, v in want.items() if not _same(got.get(k), v)]


def serve() -> None:
    """The helper's loop: read (function name, args, kwargs) pickles from
    stdin and answer each on stdout with (True, result) or (False,
    traceback), until stdin closes."""
    channel = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)  # whatever a library prints goes to stderr, not the channel
    while True:
        try:
            name, a, kw = pickle.load(sys.stdin.buffer)
        except EOFError:
            return
        try:
            reply = True, globals()[name](*a, **kw)
        except Exception:  # noqa: BLE001 — reported to the caller, which fails the op
            reply = False, traceback.format_exc()
        pickle.dump(reply, channel)
        channel.flush()
