"""Attribute maps: construction, precedence merge, canonical JSON.

The reference stores heterogeneous attributes as JSONB built with
``json.Marshal`` over a Go map (reference: modules/log/domain/log.go:49-54).
The merge precedence is ASYMMETRIC between signal types:

- traces: resource attrs merged OVER span attrs — resource wins
  (reference: processor.go:116-119, unconditional overwrite);
- logs: resource attrs merged UNDER record attrs — record wins
  (reference: processor.go:213-218, ``if !exists`` guard).

We keep attrs as ``map<string,string>`` through the plan (JVM-side) and
render one canonical sorted-key JSON string only at the sink boundary so
value hashes are ordering-stable. The precedence merge is expressed at the
EXPRESSION level (``map_filter`` of the losing side's colliding keys, then
``map_concat``) so it is correct under ANY ``spark.sql.mapKeyDedupPolicy``
— including the default EXCEPTION policy of a caller-provided vanilla
session. session.py still sets LAST_WIN as belt-and-braces, but no code
path depends on it.

"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def _record_fields() -> list[tuple[str, Column, Column | None]]:
    """The record map's key set, as (key, value, presence) — presence None
    means the key is always carried. The one definition both
    ``record_attrs_map`` and ``record_carries`` derive from."""
    return [
        ("role", F.col("role"), None),
        ("severity", F.col("severity"), None),
        ("status", F.col("status"), None),
        ("source", F.lit("record"), None),
        # optional keys only when present (reference omits absent attrs)
        ("call.tool", F.col("call_tool"), F.col("call_tool") != ""),
        ("tool", F.col("tool"), F.col("tool").isNotNull()),
    ]


def record_attrs_map() -> Column:
    """Per-row attrs from parsed fields — the span/record-side attribute map.

    Mirrors the reference's flattening of record attributes plus scope
    prefixing (processor.go:220-229): keys are plain for record-level
    values.
    """
    fields = _record_fields()
    m = F.create_map(*[x for key, val, present in fields if present is None for x in (F.lit(key), val)])
    for key, val, present in fields:
        if present is not None:
            m = F.when(present, F.map_concat(m, F.create_map(F.lit(key), val))).otherwise(m)
    return m


def record_carries(key: Column) -> Column:
    """``map_contains_key(record_attrs_map(), key)`` over plain columns,
    without building the map — cheap enough to run once per resource key
    inside a ``map_filter`` lambda. A NULL presence test means the key is
    absent (the map's CASE takes its ELSE branch on NULL)."""
    fields = _record_fields()
    carried = key.isin(*[k for k, _, present in fields if present is None])
    for k, _, present in fields:
        if present is not None:
            carried = carried | ((key == k) & F.coalesce(present, F.lit(False)))
    return carried


def resource_attrs_map(col: str = "resource_attrs") -> Column:
    """Broadcast-lookup resource attrs, already parsed to map<string,string>
    on the (tiny) lookup side by enrich_with_lookup — per-row ``from_json``
    in the fact-side hot path costs ~25µs/row, so the parse happens once per
    lookup row before broadcast, never per fact row."""
    return F.col(col)


def _nz(m):
    """NULL map → empty map: map_contains_key over a NULL map yields a
    NULL predicate, which would make map_filter drop every entry and
    map_concat propagate NULL — a NULL resource map must degrade to
    'record attrs only', not erase the whole attributes column."""
    return F.coalesce(m, F.map_from_arrays(F.array(), F.array()))


def merge_attrs(
    record: Column,
    resource: Column,
    resource_wins: bool,
    record_has: Callable[[Column], Column] | None = None,
) -> Column:
    """Precedence merge. resource_wins=True → trace flavor (P7,
    processor.go:116-119); False → log flavor (P8, processor.go:213-218).

    Session-conf-independent: the losing side is filtered down to keys the
    winning side does NOT carry, so ``map_concat`` never sees a duplicate
    key and the result is identical under EXCEPTION or LAST_WIN dedup
    policy. (Round-2 driver runs crashed with DUPLICATED_MAP_KEY because
    the old form relied on session.py's LAST_WIN conf, which a
    caller-provided vanilla session doesn't set.)

    ``record_has(k)`` tests whether the record side carries key ``k``
    (default: ``map_contains_key`` on ``record``). The filter lambda runs
    once per key of the losing side, so an expression-built ``record``
    should come with a predicate that does not rebuild it —
    ``with_attributes`` passes ``record_carries``.
    """
    record, resource = _nz(record), _nz(resource)
    if resource_wins:
        losing = F.map_filter(record, lambda k, _v: ~F.map_contains_key(resource, k))
        return F.map_concat(losing, resource)
    has = record_has or (lambda k: F.map_contains_key(record, k))
    return F.map_concat(F.map_filter(resource, lambda k, _v: ~has(k)), record)


def canonical_json(m: Column) -> Column:
    """map<string,string> → deterministic sorted-key JSON string.

    Pure JVM expression (sort_array over map_entries sorts by key), so the
    canonical form is stable regardless of shuffle or map build order —
    required for order-insensitive value hashing and row-set equality.
    """
    # to_json renders map entries in map order; sorting the entries first
    # gives sorted-key output identical to json.dumps(sort_keys=True,
    # separators=(",",":")). ~6× faster than hand-rendering via
    # transform+concat_ws (codegen'd JSON writer vs interpreted HOFs), and
    # escapes quotes/backslashes correctly as a bonus. sort_array, not
    # array_sort: the latter is a higher-order function with an interpreted
    # default comparator; on entries (never NULL, unique keys) both give
    # the same order.
    return F.to_json(F.map_from_entries(F.sort_array(F.map_entries(m))))
