"""Keyed result cache — the Spark analog of the reference's API response
cache (reference: modules/api/middleware/cache.go:38-120 middleware flow,
:125-169 key scheme, cache key = ``api:cache:<path>:<sha256(sorted query
params + body)[:16]>``).

The reference caches the rendered HTTP body in Redis with a TTL and answers
a repeat GET from it without running a query. An entry here is likewise
the collected result, not a plan to run again:

- **key**: ``cache:<name>:<sha256(canonical-JSON descriptor)[:16]>`` —
  sorted-key JSON exactly like the reference sorts query params before
  hashing, so two requests that differ only in parameter order share one
  entry.
- **miss**: the built plan runs once (``collectAsList`` — one action) and
  its rows become a local DataFrame with the plan's exact schema; the rows
  stay in the JVM and never pass through Python, so types and nullability
  are the plan's own. This is the write-through the reference does after
  a 2xx response (cache.go:101-116).
- **hit**: the entry is a ``LocalRelation``, so actions on it run a
  ``LocalTableScan`` on the driver: no Spark job, no source scan — the
  analog of Redis returning the stored body.
- **TTL / invalidation**: entries expire after ``ttl_s`` of wall clock and
  can be invalidated by key prefix (the reference's cache.Delete on
  writes); either just drops the reference. ``invalidate`` also drops the
  log requests' remembered count passes (``aggregate.forget_counts``).
- **concurrency**: one lock guards the entry map; builds run outside it,
  so two concurrent misses on one key both build and the last one stays.

Entries live in driver memory, so cache SMALL results (post-aggregation
rows, pages) — exactly like the reference caches rendered JSON pages,
never table rows.
"""

from __future__ import annotations

import hashlib
import json
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ..operators.aggregate import forget_counts


def cache_key(name: str, descriptor: dict) -> str:
    """Canonical request key: sorted-key JSON → sha256, truncated to 16 hex
    chars like the reference (cache.go:169)."""
    canon = json.dumps(descriptor, sort_keys=True, separators=(",", ":"))
    digest = hashlib.sha256(canon.encode()).hexdigest()[:16]
    return f"cache:{name}:{digest}"


@dataclass
class _Entry:
    df: DataFrame
    expires_at: float


@dataclass
class ResultCache:
    """Request-scoped result reuse with TTL + prefix invalidation."""

    ttl_s: float = 300.0
    _entries: dict[str, _Entry] = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False, compare=False)
    hits: int = 0
    misses: int = 0

    def get_or_build(self, name: str, descriptor: dict, build) -> tuple[DataFrame, bool]:
        """Return (DataFrame, was_hit). On miss, ``build()`` is called once
        and its plan collected; the entry is a local DataFrame over those
        rows, so every later action on it — including from other requests —
        runs no Spark job. A build or collect that raises stores nothing.

        Every call also opportunistically purges ALL expired entries (not
        just the requested key), so a long-lived cache never accumulates
        results for keys that are never re-requested — Redis's lazy+active
        expiry, collapsed to expiry-on-traffic."""
        key = cache_key(name, descriptor)
        with self._lock:
            self._purge_expired(time.monotonic())
            ent = self._entries.get(key)
            if ent is not None:
                self.hits += 1
                return ent.df, True
            self.misses += 1
        df = _collected(build())
        # TTL starts once the result exists, not at miss time: a build taking
        # close to ttl_s would otherwise insert an already-(nearly-)expired
        # entry and degrade the cache to a rebuild-per-request
        with self._lock:
            self._entries[key] = _Entry(df, time.monotonic() + self.ttl_s)
        return df, False

    def _purge_expired(self, now: float) -> None:
        # caller holds the lock
        for k in [k for k, e in self._entries.items() if now >= e.expires_at]:
            self._entries.pop(k, None)

    def invalidate(self, prefix: str = "cache:") -> int:
        """Drop every entry whose key starts with ``prefix`` (``cache:<name>:``
        invalidates one request family — the reference's delete-on-write
        path), and every remembered count pass. Returns the number of
        entries dropped."""
        with self._lock:
            doomed = [k for k in self._entries if k.startswith(prefix)]
            for k in doomed:
                self._entries.pop(k, None)
        forget_counts()
        return len(doomed)


def _collected(df: DataFrame) -> DataFrame:
    """``df``'s rows as a local DataFrame: one action, and the rows go from
    the collect straight into a ``LocalRelation`` inside the JVM."""
    jdf = df._jdf
    spark = df.sparkSession
    return DataFrame(spark._jsparkSession.createDataFrame(jdf.collectAsList(), jdf.schema()), spark)
