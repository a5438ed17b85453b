"""Read-side query library — the reference's REST query surface, Spark-first.

The reference builds ONE WHERE clause per request and shares it across the
page query, the aggregation queries, and the count query (reference:
modules/log/repository/repository.go:115-152,
modules/trace/repository/repository.go:221-301). We mirror that shape: a
filter builder returns a filtered DataFrame, the page is a lazy plan over
it, and the service / severity / total statements (A1–A3) are all derived
from ONE per-type count over it (the count pass): one action collects
``GROUP BY event_type`` and the driver orders, ranks and sums its few rows
into local frames whose actions run no Spark job.

Filters F1–F9, aggregations A1–A9, sorts O1–O5 from SURVEY.md §2 are mapped
onto the driver testdata analogs:
- ``events``   ≈ logs table   (ts, event_type≈severity/service, value, props)
- ``lineitem`` ≈ traces table (l_extendedprice≈duration, l_returnflag≈service)
- ``orders``/``customer``/``nation``/``region`` back the join views J1–J3.

Every aggregate / computed column is aliased so names line up with the
DuckDB oracle SQL (driver contract).
"""

from __future__ import annotations

import copy
import functools
import operator
import threading
import weakref
from collections.abc import Callable, Iterator, Mapping
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

# custom severity rank ladder — reference log repo:204-213 ORDER BY CASE;
# any other type (NULL included) ranks 6
SEVERITY_RANK_CASE = {"error": 1, "signup": 2, "purchase": 3, "click": 4, "view": 5}

# Request-independent Columns are built once per process: building one is a
# chain of py4j calls, paid on every request otherwise. A Column is an
# unresolved expression, safe to share between plans.


@dataclass
class EventFilter:
    """Analog of the reference's LogFilter (log/domain/log.go + controller
    binding). All predicates optional; combined with AND."""

    start_ts: str | None = None  # F1: inclusive both ends (log repo:119)
    end_ts: str | None = None
    types_in: list[str] = field(default_factory=list)  # F2 IN-list (log repo:122-130)
    type_eq: str | None = None  # F3 equality (log repo:133-137)
    require_props: bool = False  # F4 non-null/non-empty (log repo:140-142)
    min_value: float | None = None  # F7 numeric range (trace repo:277-287)
    max_value: float | None = None
    search: str | None = None  # F6 ILIKE substring; skipped for ""/"*" (log repo:145)


def build_event_filter(df: DataFrame, flt: EventFilter) -> DataFrame:
    """The shared-WHERE builder — one filtered frame reused by page/agg/count.
    The predicates go to ONE ``filter`` call as one conjunction."""
    preds = []
    if flt.start_ts:
        preds.append(F.col("ts") >= F.to_timestamp_ntz(F.lit(flt.start_ts)))
    if flt.end_ts:
        preds.append(F.col("ts") <= F.to_timestamp_ntz(F.lit(flt.end_ts)))
    if flt.types_in:
        preds.append(F.col("event_type").isin(flt.types_in))
    if flt.type_eq is not None:
        preds.append(F.col("event_type") == flt.type_eq)
    if flt.require_props:
        preds.append(F.col("props").isNotNull() & (F.col("props") != ""))
    if flt.min_value is not None:
        preds.append(F.col("value") >= flt.min_value)
    if flt.max_value is not None:
        preds.append(F.col("value") <= flt.max_value)
    if flt.search and flt.search != "*":  # the "*"-skip quirk, log repo:145
        q = flt.search.lower()
        preds.append(F.lower(F.col("props")).contains(q) | F.lower(F.col("event_type")).contains(q))
    return df.filter(functools.reduce(operator.and_, preds)) if preds else df


# --- sorts / pagination (O1–O3) --------------------------------------------

# dynamic sort whitelist — reference trace repo:225-251 maps client field →
# column and rejects anything else
SORT_WHITELIST = {"time": "ts", "value": "value", "id": "event_id"}


@functools.cache
def _page_order(col: str, descending: bool) -> tuple[Column, Column]:
    return (F.col(col).desc() if descending else F.col(col).asc()), F.col("event_id").asc()


def page_events(
    df: DataFrame,
    sort_field: str = "time",
    descending: bool = True,
    limit: int = 20,
    offset: int = 0,
) -> DataFrame:
    """O1/O2/O3: whitelisted dynamic sort + limit/offset page. event_id is
    always the final tiebreaker so pages are deterministic under ties."""
    out = df.orderBy(*_page_order(SORT_WHITELIST.get(sort_field, "ts"), descending))
    # offset is client-controlled in the request analog: clamp like limit
    # (reference clamps bad paging params to defaults, never errors) — a
    # negative value would fail Spark's analysis check and kill the request
    if offset > 0:
        out = out.offset(offset)
    return out.limit(limit)


# --- aggregations (A1–A9) ---------------------------------------------------


@functools.cache
def _count_as(name: str) -> Column:
    return F.count(F.lit(1)).alias(name)


@dataclass(frozen=True)
class TypeCounts:
    """One collected count pass: the aggregate's (event_type, cnt) fields as
    the plan types them, and its rows — at most one per type."""

    fields: tuple[StructField, ...]
    rows: tuple[tuple, ...]


def type_count_plan(df: DataFrame) -> DataFrame:
    """The count pass: GROUP BY event_type, COUNT(*) — one partial + final
    aggregate, no sort. A1–A3 are all functions of its rows."""
    return df.groupBy("event_type").agg(_count_as("cnt"))


def count_pass(df: DataFrame) -> TypeCounts:
    """Run the count pass over ``df``: one action."""
    plan = type_count_plan(df)
    return TypeCounts(tuple(plan.schema.fields), tuple(tuple(r) for r in plan.collect()))


_SEV_RANK = StructField("sev_rank", IntegerType(), False)
_TOTAL = StructType([StructField("total", LongType(), False)])


def _nulls_first(t) -> tuple:
    # Spark's ascending order puts NULL first
    return (t is not None, t or "")


def _local(spark: SparkSession, schema: StructType, rows: list[tuple]) -> DataFrame:
    """``rows`` as a frame of exactly ``schema``: one Arrow table becomes a
    ``LocalRelation``, whose actions run no Spark job."""
    cols = list(zip(*rows)) if rows else [[] for _ in schema.names]
    return spark.createDataFrame(pa.table(dict(zip(schema.names, cols))), schema)


# The ONE ordering implementation of the count statements: every caller
# (query_events and the public A1–A3 functions) derives through these.


def _service_frame(spark: SparkSession, counts: TypeCounts, k: int) -> DataFrame:
    rows = sorted(counts.rows, key=lambda r: (-r[1], *_nulls_first(r[0])))
    return _local(spark, StructType(list(counts.fields)), rows[:k])


def _severity_frame(spark: SparkSession, counts: TypeCounts) -> DataFrame:
    ranked = [(t, c, SEVERITY_RANK_CASE.get(t, 6)) for t, c in counts.rows]
    ranked.sort(key=lambda r: (r[2], *_nulls_first(r[0])))
    return _local(spark, StructType([*counts.fields, _SEV_RANK]), ranked)


def _total_frame(spark: SparkSession, counts: TypeCounts) -> DataFrame:
    return _local(spark, _TOTAL, [(sum(c for _, c in counts.rows),)])


def service_counts(df: DataFrame, k: int = 20) -> DataFrame:
    """A1: GROUP BY service ORDER BY count DESC, service LIMIT k (log
    repo:178-191) — a local frame derived from one count pass."""
    return _service_frame(df.sparkSession, count_pass(df), k)


def severity_counts_ranked(df: DataFrame) -> DataFrame:
    """A2: GROUP BY severity with the CASE rank ladder (log repo:194-214),
    ordered by ``sev_rank`` then type — a local frame derived from one count
    pass."""
    return _severity_frame(df.sparkSession, count_pass(df))


def total_count(df: DataFrame) -> DataFrame:
    """A3: COUNT(*) over the same shared filter (log repo:217-221) — the sum
    of one count pass, 0 when nothing matches."""
    return _total_frame(df.sparkSession, count_pass(df))


def trace_groups(orders: DataFrame, k: int = 100) -> DataFrame:
    """A4: GROUP BY trace_id with min/max/count/distinct-set (trace
    repo:329-345) — orders-per-customer analog; sorted set for determinism."""
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.array_join(F.sort_array(F.collect_set("o_orderstatus")), ",").alias("statuses"),
        )
        .orderBy(F.desc("n_orders"), "o_custkey")
        .limit(k)
    )


def trace_reassembly(lineitem: DataFrame, max_orderkey: int = 100) -> DataFrame:
    """A5: reassemble one trace's spans — min start, max end, span count,
    distinct services, AND the full span list ordered by start time
    (the reference returns spans ORDER BY start_time ASC,
    trace/repository/repository.go:123) — lineitems-per-order analog.
    ``span_seq`` is collect_list(struct(start, id)) sorted then projected
    to ids: per-group data only, no extra shuffle beyond the groupBy."""
    span_struct = F.struct(F.col("l_shipdate").alias("s"), F.col("l_linenumber").alias("ln"))
    return (
        lineitem.filter(F.col("l_orderkey") <= max_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.min("l_shipdate").alias("start_time"),
            F.max("l_shipdate").alias("end_time"),
            F.count(F.lit(1)).alias("span_count"),
            F.array_join(
                F.sort_array(F.collect_set(F.col("l_suppkey").cast("string"))), ","
            ).alias("services"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(span_struct)),
                    lambda x: x["ln"].cast("string"),
                ),
                ",",
            ).alias("span_seq"),
        )
    )


def service_stats(lineitem: DataFrame) -> DataFrame:
    """A6: per-service count / error count / avg duration / error-rate %
    (trace repo:479-534; rate computed app-side :517-521)."""
    agg = lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("l_linestatus") == "F", 1).otherwise(0)).alias("errors"),
        F.round(F.avg("l_extendedprice"), 3).alias("avg_duration"),
    )
    return agg.withColumn("error_rate", F.round(F.col("errors") / F.col("cnt") * 100, 3))


def service_metrics_percentiles(lineitem: DataFrame, k: int = 50) -> DataFrame:
    """A7: A6 + exact interpolating p95/p99 (PERCENTILE_CONT, trace
    repo:553-570), both from one ``F.percentile`` over an array of
    percentages. Exact ``F.percentile`` for oracle parity; at 10^12-row
    scale swap for ``percentile_approx`` (documented in BENCH)."""
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("l_extendedprice"), 3).alias("avg_duration"),
            # one aggregate sorts each group's values once for both points
            F.percentile("l_extendedprice", [0.95, 0.99]).alias("_p"),
        )
        .select(
            "l_returnflag",
            "cnt",
            "avg_duration",
            F.round(F.col("_p")[0], 3).alias("p95"),
            F.round(F.col("_p")[1], 3).alias("p99"),
        )
        .orderBy("l_returnflag")
        .limit(k)
    )


def cross_service_rollup(lineitem: DataFrame) -> DataFrame:
    """A8: app-side rollup — totals + count-weighted avg latency
    Σ(count·avg)/Σcount + overall error %  (trace_controller.go:264-283)."""
    per = service_stats(lineitem)
    return per.agg(
        F.sum("cnt").alias("total_count"),
        F.sum("errors").alias("total_errors"),
        F.round(F.sum(F.col("cnt") * F.col("avg_duration")) / F.sum("cnt"), 3).alias("weighted_avg"),
        F.round(F.sum("errors") / F.sum("cnt") * 100, 3).alias("error_pct"),
    )


def page_summary(df: DataFrame, limit: int = 100) -> DataFrame:
    """A9: distinct values + total duration over the returned page only
    (log_controller.go:112-133)."""
    page = df.orderBy(F.desc("ts"), F.col("event_id").asc()).limit(limit)
    return page.agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("types_on_page"),
        F.round(F.sum("value"), 3).alias("total_value"),
    )


# --- request lifecycle (SURVEY §3.2/§3.3) -----------------------------------


def clamp_limit(requested: int, default: int = 20, maximum: int = 100) -> int:
    """The reference's limit clamp: non-positive → default, cap at maximum
    (log/service/service.go:43-51, log_controller.go:72-77; traces use
    default 100, trace/service/service.go:60-62)."""
    if requested <= 0:
        return default
    return min(requested, maximum)


class _Statements(Mapping):
    """Read-only name → DataFrame mapping that builds each statement the
    first time its key is read, then returns that same frame."""

    def __init__(self, builders: dict[str, Callable[[], DataFrame]]):
        self._builders = builders
        self._built: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._built:
            self._built[name] = self._builders[name]()
        return self._built[name]

    def __iter__(self) -> Iterator[str]:
        return iter(self._builders)

    def __len__(self) -> int:
        return len(self._builders)


# table frame → (filter, its count pass): the latest count pass per live
# frame. A frame's file listing is fixed when it is created, so a remembered
# count equals a recount over the same frame; the entry dies with the frame.
_COUNTS: weakref.WeakKeyDictionary[DataFrame, tuple[EventFilter, TypeCounts]] = (
    weakref.WeakKeyDictionary()
)
_COUNTS_LOCK = threading.Lock()


def _request_counts(df: DataFrame, flt: EventFilter, filtered: Callable[[], DataFrame]) -> TypeCounts:
    with _COUNTS_LOCK:
        seen = _COUNTS.get(df)
    if seen is not None and seen[0] == flt:
        return seen[1]
    counts = count_pass(filtered())  # outside the lock: concurrent misses both count
    with _COUNTS_LOCK:
        _COUNTS[df] = (copy.deepcopy(flt), counts)
    return counts


def forget_counts() -> None:
    """Drop every remembered count pass (``ResultCache.invalidate`` calls
    this, so an invalidated request recounts)."""
    with _COUNTS_LOCK:
        _COUNTS.clear()


def query_events(
    df: DataFrame,
    flt: EventFilter,
    sort_field: str = "time",
    descending: bool = True,
    limit: int = 0,
    offset: int = 0,
) -> Mapping[str, DataFrame]:
    """One request, four statements sharing ONE filter — the exact shape of
    repo.QueryLogs (log repo:155-221: page, service agg, severity agg,
    count, all over the same WHERE). Keys, in order: page, service_counts,
    severity_counts, total; each statement is built when its key is first
    read.

    The page is a lazy plan over the filtered frame. The other three are
    local frames derived from one count pass, remembered per table frame
    ``df`` and filter value (not sort or paging), so the three statements —
    read through one call or through one call each, as a per-statement
    handler does — scan ``df`` once between them. The filtered frame is
    built only when the page or a count-pass miss needs it."""
    filtered = functools.cache(lambda: build_event_filter(df, flt))
    counts = functools.cache(lambda: _request_counts(df, flt, filtered))
    spark = df.sparkSession
    return _Statements({
        "page": lambda: page_events(filtered(), sort_field, descending, clamp_limit(limit), offset),
        "service_counts": lambda: _service_frame(spark, counts(), 20),
        "severity_counts": lambda: _severity_frame(spark, counts()),
        "total": lambda: _total_frame(spark, counts()),
    })


# --- joins (J1–J3) -----------------------------------------------------------


def left_join_group_count(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """J1: traces ⟕ logs + GROUP BY + COUNT(log id) — the traces_with_logs
    view (schema.go:128-143)."""
    li = lineitem.select(F.col("l_orderkey").alias("lo_key"), "l_linenumber")
    return (
        orders.join(li, orders["o_orderkey"] == li["lo_key"], "left")
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(F.count("l_linenumber").alias("log_count"))
    )


def two_key_left_join(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """J2: two-condition left equi-join after a severity-set filter — the
    error_logs_with_traces view (schema.go:146-165)."""
    li = lineitem.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_linenumber", "l_extendedprice")
    o = orders.select("o_orderkey", "o_orderstatus")
    joined = li.join(
        o, (li["l_orderkey"] == o["o_orderkey"]) & (o["o_orderstatus"] == "F"), "left"
    )
    return joined.select("l_orderkey", "l_linenumber", F.round("l_extendedprice", 2).alias("price"), "o_orderstatus")


def broadcast_enrich_join(customer: DataFrame, nation: DataFrame, region: DataFrame) -> DataFrame:
    """J3: the lookup-enrich join chain as explicit broadcast hash joins —
    the Spark-native form of the reference's in-decode attr merge."""
    return (
        customer.join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("customers"), F.round(F.avg("c_acctbal"), 3).alias("avg_bal"))
        .orderBy("r_name")
    )


def merge_agg_deltas(
    base: DataFrame, delta: DataFrame, keys: list[str], sum_cols: list[str]
) -> DataFrame:
    """Incremental materialized-view maintenance for distributive
    aggregates: fold a delta batch's PARTIAL aggregate into a base
    aggregate by key — full-outer join + coalesced sums, the same merge a
    combiner performs, applied at the storage layer. count/sum merge
    directly, avg as (sum, count), min/max with greatest/least; holistic
    aggregates (exact percentiles) don't merge and need the sketch path
    (ax1). At 100 TB this turns "re-scan the fact table to refresh a
    rollup" into "aggregate the delta partition and merge k rows" — the
    incremental rollup the reference recomputes from scratch per request.
    The join key is the rollup's grain, so the exchange is k-row-sized,
    never fact-sized."""
    d = delta.select(*keys, *[F.col(c).alias(f"_d_{c}") for c in sum_cols])
    j = base.join(d, keys, "full_outer")
    return j.select(
        *keys,
        *[
            (F.coalesce(F.col(c), F.lit(0)) + F.coalesce(F.col(f"_d_{c}"), F.lit(0))).alias(c)
            for c in sum_cols
        ],
    )


def spike_hours(
    events: DataFrame,
    window_hours: int = 6,
    z_thresh: int = 3,
    min_history: int = 3,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Integer-exact z-score spike detection over hourly event counts —
    the alerting query a log pipeline pages on, with NO floating point
    anywhere, so both engines reproduce the flag bit-for-bit.

    Aggregate FIRST: the only fact-sized shuffle keys on
    (event_type, hour); the trailing window then runs over the tiny
    bucketed frame (|types| x |hours| rows), partitioned by type — never
    an unpartitioned global sort. The frame is the previous
    ``window_hours`` OBSERVED buckets (ROWS, not RANGE: silent hours
    compress; document the series as gap-free or densify upstream).

    z > t over population variance, kept in integers:
        mean mu = s1/n, var = (n*s2 - s1^2)/n^2, z^2 = (n*x - s1)^2 / (n*s2 - s1^2)
    so  spike <=> n >= min_history AND n*x > s1
                  AND (n*x - s1)^2 > t^2 * (n*s2 - s1^2).
    A constant history (zero variance) makes any increase a spike — the
    deterministic convention alerting systems use for flatlines.
    """
    hourly = events.groupBy(
        type_col, F.date_trunc("hour", F.col(ts_col)).alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    return spike_score(hourly, window_hours, z_thresh, min_history, type_col)


def spike_score(
    hourly: DataFrame,
    window_hours: int = 6,
    z_thresh: int = 3,
    min_history: int = 3,
    type_col: str = "event_type",
) -> DataFrame:
    """The z-test half of ``spike_hours``, over an already-bucketed
    (type, hour, cnt) frame — shared by the batch path and the streaming
    path (streaming/stream_pipeline.py:streaming_hourly_type_counts
    produces the same buckets from a stream; the score stage is batch
    post-processing of the micro-batched snapshot).

    Every product runs in decimal(38,0) — exact integer arithmetic like
    the BIGINT form, but with the headroom the squares need: at a
    plausible 5·10⁸ events/hour/type, cnt² ≈ 2.6·10¹⁷ and n·Σcnt² ≈ 10¹⁹
    overflow a 64-bit long (ANSI mode would kill the job); they sit
    comfortably inside 38 digits (bound: counts whose squares stay under
    10³⁸, i.e. cnt < 10¹⁹ — beyond any physical event rate). The DuckDB
    oracle mirrors with HUGEINT (int128). Flags remain bit-exact."""
    from pyspark.sql import Window

    def dec(c):
        return c.cast("decimal(38,0)")

    w = Window.partitionBy(type_col).orderBy("hour").rowsBetween(-window_hours, -1)
    n = F.count(F.lit(1)).over(w)
    s1 = F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("long")
    s2 = F.coalesce(F.sum(dec(F.col("cnt")) * F.col("cnt")).over(w), F.lit(0)).cast("decimal(38,0)")
    scored = hourly.select(
        type_col,
        "hour",
        "cnt",
        n.cast("long").alias("n_hist"),
        s1.alias("hist_sum"),
        s2.alias("_sumsq"),
    )
    dev = dec(F.col("n_hist")) * F.col("cnt") - F.col("hist_sum")
    var_n2 = dec(F.col("n_hist")) * F.col("_sumsq") - dec(F.col("hist_sum")) * F.col("hist_sum")
    spike = (
        (F.col("n_hist") >= min_history)
        & (dev > 0)
        & (dev * dev > F.lit(z_thresh * z_thresh) * var_n2)
    )
    return scored.select(
        type_col,
        "hour",
        "cnt",
        "n_hist",
        "hist_sum",
        F.when(spike, 1).otherwise(0).cast("long").alias("spike"),
    )
