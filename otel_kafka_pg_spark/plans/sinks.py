"""Durable sink operations: upsert-merge and in-place retention delete.

The reference's writers are row-level upserts into durable Postgres tables
(``INSERT ... ON CONFLICT (id) DO UPDATE``, reference:
modules/log/repository/repository.go:67-88,
modules/trace/repository/repository.go:75-99) and its cleanup job deletes
rows in place (``DELETE FROM logs WHERE timestamp < cutoff``, reference:
modules/cleanup/service.go:101-179). The Spark-native equivalents are
Iceberg ``MERGE INTO`` / ``DELETE FROM`` — row-level table operations that
commit as metadata swaps, the 100 TB shape (no full-table rewrite when the
delete predicate aligns with partitions).

This container ships no Iceberg runtime jar and has no network, so every
operation here has two paths behind one interface:

- **Iceberg path** (``iceberg_available()``): ``MERGE INTO`` / ``DELETE
  FROM`` SQL against a catalog table — exercised by tests that skip cleanly
  when the jar is absent, wired for clusters that have it.
- **Parquet fallback**: the same semantics as DataFrame ops — MERGE as a
  full-outer coalesce (matched → update, not-matched → insert), DELETE as a
  keep-side rewrite with an atomic directory swap. Results are identical by
  construction; the registry oracle checks the fallback, the semantics are
  shared.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .manifest import write_with_summary

ICEBERG_CATALOG = "local_iceberg"


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the iceberg-spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def ensure_iceberg_catalog(spark: SparkSession, warehouse: str) -> str:
    """Configure a hadoop-backed Iceberg catalog at runtime (catalogs are
    instantiated lazily on first use, so conf.set after session start
    works). Returns the catalog name."""
    spark.conf.set(f"spark.sql.catalog.{ICEBERG_CATALOG}", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set(f"spark.sql.catalog.{ICEBERG_CATALOG}.type", "hadoop")
    spark.conf.set(f"spark.sql.catalog.{ICEBERG_CATALOG}.warehouse", warehouse)
    return ICEBERG_CATALOG


def merge_upsert(
    spark: SparkSession,
    base: DataFrame,
    updates: DataFrame,
    key: str,
    value_cols: list[str],
) -> DataFrame:
    """MERGE INTO semantics as a frame: matched keys take the update's
    values, unmatched update keys are inserted, unmatched base rows pass
    through — exactly ``WHEN MATCHED THEN UPDATE SET ... WHEN NOT MATCHED
    THEN INSERT *`` (the reference's ON CONFLICT DO UPDATE,
    log/repository/repository.go:71-78). ``updates`` must be unique per
    key — enforced lazily: a per-key window count feeds ``assert_true``
    inside the filter, so a duplicate update key raises at execution time
    exactly like a real MERGE INTO's cardinality check, instead of silently
    fanning out base rows through the join. The window shuffles on the same
    key as the merge join, so the guard adds no extra exchange shape."""
    from pyspark.sql import Window

    cnt = F.count(F.lit(1)).over(Window.partitionBy(key))
    upd = updates.withColumn("_cnt", cnt).filter(
        F.assert_true(
            F.col("_cnt") == 1,
            F.concat(F.lit("MERGE INTO: duplicate update rows for key "), F.col(key).cast("string")),
        ).isNull()
    )
    return _presence_merge(base, upd, key, value_cols, F.col("u._present").isNotNull())


def _presence_merge(
    base: DataFrame, updates: DataFrame, key: str, cols: list[str], update_wins: Column
) -> DataFrame:
    """Full-outer merge of ``updates`` into ``base`` on ``key``: each row
    takes ALL of ``cols`` from the update side where the Column
    ``update_wins`` holds, else from the base side. ``update_wins`` sees the
    base row as ``b.<col>`` and the update row as ``u.<col>``, plus the
    presence flags ``b._present`` / ``u._present`` (NULL on the side with no
    row for the key). Presence flags, NOT coalesce per column: a winning
    update lands wholesale — NULL values included — exactly like UPDATE SET
    / ON CONFLICT DO UPDATE (coalesce would keep the base value wherever an
    update column is NULL, diverging from the Iceberg MERGE path; parity
    incl. the NULL case is pinned in tests/test_sinks.py)."""
    b = base.select(key, *cols, F.lit(True).alias("_present")).alias("b")
    u = updates.select(key, *cols, F.lit(True).alias("_present")).alias("u")
    return b.join(u, key, "full_outer").select(
        key, *[F.when(update_wins, F.col(f"u.{c}")).otherwise(F.col(f"b.{c}")).alias(c) for c in cols]
    )


def merge_upsert_iceberg(
    spark: SparkSession,
    base: DataFrame,
    updates: DataFrame,
    key: str,
    value_cols: list[str],
    warehouse: str,
) -> DataFrame:
    """The real MERGE INTO against an Iceberg table: create, merge, read
    back. Caller must have checked iceberg_available()."""
    cat = ensure_iceberg_catalog(spark, warehouse)
    tbl = f"{cat}.db.merge_{uuid.uuid4().hex[:12]}"
    base.writeTo(tbl).using("iceberg").create()
    updates.createOrReplaceTempView("_merge_updates")
    sets = ", ".join(f"t.{c} = s.{c}" for c in value_cols)
    spark.sql(
        f"MERGE INTO {tbl} t USING _merge_updates s ON t.{key} = s.{key} "
        f"WHEN MATCHED THEN UPDATE SET {sets} WHEN NOT MATCHED THEN INSERT *"
    )
    out = spark.table(tbl).select(key, *value_cols)
    return out


def retention_delete(spark: SparkSession, path: str, delete_cond) -> int:
    """In-place retention delete on a parquet sink directory: rewrite the
    keep side and atomically swap directories (write-temp → rename), the
    batch analog of ``DELETE FROM ... WHERE ts < cutoff``
    (cleanup/service.go:128-150). Survivors = rows where the predicate is
    false OR null (SQL DELETE only removes rows where the predicate is
    true). Returns the number of surviving rows.

    At scale the swap becomes an Iceberg ``DELETE FROM`` (metadata-only
    when the predicate aligns with partition bounds) — see
    retention_delete_iceberg; the rewrite fallback touches every byte once,
    which is the unavoidable cost on raw parquet.

    The two-rename swap has a crash window where ``path`` is briefly
    absent; entry-time ``recover_interrupted_swap`` restores a stranded
    ``.old`` survivor, so the operation is restartable."""
    recover_interrupted_swap(path)
    df = spark.read.parquet(path)
    keep = df.filter(delete_cond.isNull() | ~delete_cond)
    tmp = path.rstrip("/") + ".rewrite.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    # survivor count rides the write job itself, checked against the
    # committed parquet footers (write_with_summary's retry guard)
    n, _h, _lineage = write_with_summary(keep, tmp)
    atomic_swap(tmp, path)
    return n


def atomic_swap(tmp: str, path: str) -> None:
    """The write-tmp → two-rename directory swap shared by every in-place
    rewrite (retention_delete here, streaming.stream_pipeline.stream_upsert):
    ``tmp`` must be fully materialized; ``path`` is briefly absent between
    the two renames, and entry-time ``recover_interrupted_swap`` restores a
    stranded ``.old`` survivor, so the sequence is crash-restartable. One
    definition so any future hardening (fsync, object-store guard) lands
    everywhere at once."""
    old = path.rstrip("/") + ".old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def retention_delete_iceberg(spark: SparkSession, table: str, where_sql: str) -> None:
    """Row-level DELETE FROM on an Iceberg table (jar required)."""
    spark.sql(f"DELETE FROM {table} WHERE {where_sql}")


def write_bucketed(
    df, table_name: str, key: str, n_buckets: int = 8, sort: bool = True
) -> None:
    """Persist a table bucketed (and sorted) by its join key — the
    co-located-join layout for fact-to-fact joins too big to broadcast:
    two tables bucketed the same way join WITHOUT any exchange (and
    without even a sort when both are sortBy'd), because matching buckets
    are read pairwise. At 100 TB this converts the repeated
    orders⋈lineitem-style shuffle (~input-sized, every query) into a
    one-time layout cost at write. Bucketing requires the table catalog
    (`saveAsTable`), not a bare path — bucket metadata lives in the
    catalog. tests/test_plan_guards.py asserts the exchange-free plan."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table_name)


def recover_interrupted_swap(path: str) -> bool:
    """Close the non-atomic window of the rewrite-and-swap pattern
    (retention_delete / compact_sink): between ``rename(path, .old)`` and
    ``rename(.tmp, path)`` a crash leaves NO directory at ``path``. Call on
    startup (or before any swap-based op): if ``path`` is missing but its
    ``.old`` survivor exists, restore it — the operation then simply never
    happened. Returns True if a restore was performed."""
    old = path.rstrip("/") + ".old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
        return True
    return False


def compact_sink(spark: SparkSession, path: str, target_mb: int = 512) -> tuple[int, int]:
    """Compact a sink directory's small files into ~``target_mb`` files —
    the maintenance pass every streaming/append sink needs: micro-batch
    appends (stream_pipeline) and frequent small runs accumulate files far
    below the efficient scan size, inflating task counts and metadata
    (Iceberg's ``rewrite_data_files`` action; on raw parquet it is a
    size-targeted rewrite + rewrite-and-swap like retention_delete).

    - File count derives from the CURRENT compressed size on disk, not a
      row-count heuristic; content is preserved exactly (order-insensitive
      content hash asserted in tests).
    - Hive partition layout (``key=value`` subdirectories, e.g. the
      one-pass ``signal_type=...`` routing) is DETECTED and re-written
      with the same ``partitionBy``, so partition-pruned views keep
      working.
    - Sidecar state (``_batches`` replay markers, any ``_``/``.``-prefixed
      metadata dir) is carried into the rewritten directory — compaction
      must never erase the idempotent-replay bookkeeping. Sidecars are
      snapshotted BEFORE the data scan: the marker protocol writes data
      first, then marker, so every marker in the snapshot has its data
      visible to the scan. A batch committed DURING the rewrite window may
      lose its marker (and possibly its data) from the compacted copy — on
      restart the stream replays it, re-appending at-least-once, which the
      deterministic row IDs / marker dedup downstream absorb. (Copying
      markers AFTER the scan — the previous behavior — was the unsafe
      direction: a marker whose data missed the scan would permanently
      suppress its replay — silent loss.) Compaction of a live streaming
      sink should still be scheduled between micro-batches — the same
      discipline Iceberg's rewrite_data_files needs vs. concurrent commits.
    - The two-rename swap has a crash window where ``path`` is absent;
      ``recover_interrupted_swap`` (called here on entry) restores the
      ``.old`` survivor, making the op safely restartable rather than
      claiming false atomicity.
    - Local-filesystem only, asserted at entry: the directory-rename swap
      has no object-store analog (S3 renames are copies, not atomic). On an
      object store, compact via the table format instead (Iceberg
      ``rewrite_data_files``); lineage reads (parquet_file_lineage) are the
      part that is filesystem-abstracted, not this rewrite.

    Returns (files_before, files_after).
    """
    from .manifest import parquet_file_lineage

    if path.startswith("file://"):
        # normalize the URI form to the plain path the os/shutil calls below
        # operate on (file://host/p is not supported, only file:///p)
        path = path[len("file://"):]
        if not path.startswith("/"):
            raise ValueError(f"unsupported file:// URI with authority: {path!r}")
    if "://" in path:
        raise ValueError(
            f"compact_sink requires a local path (got {path!r}): the atomic "
            "directory-rename swap does not exist on object stores — use the "
            "table format's compaction (Iceberg rewrite_data_files) there"
        )
    recover_interrupted_swap(path)
    before = len(parquet_file_lineage(path))
    size_bytes = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, round(size_bytes / (target_mb * 1024 * 1024)))
    partition_cols = sorted(
        {
            d.split("=", 1)[0]
            for d in os.listdir(path)
            if "=" in d and os.path.isdir(os.path.join(path, d))
        }
    )
    # Sidecar snapshot FIRST (see docstring): a marker present now is
    # guaranteed to have its data visible to the scan below (data precedes
    # marker in the commit protocol); anything committed later replays.
    sidecar_stage = path.rstrip("/") + ".sidecars.tmp"
    shutil.rmtree(sidecar_stage, ignore_errors=True)
    os.makedirs(sidecar_stage)
    for d in os.listdir(path):
        if os.path.isdir(os.path.join(path, d)) and d.startswith(("_", ".")):
            shutil.copytree(os.path.join(path, d), os.path.join(sidecar_stage, d))
    try:
        df = spark.read.parquet(path)
        tmp = path.rstrip("/") + ".compact.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        writer = df.repartition(n_files).write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(tmp)
        for d in os.listdir(sidecar_stage):
            shutil.copytree(os.path.join(sidecar_stage, d), os.path.join(tmp, d), dirs_exist_ok=True)
    finally:
        # a failed rewrite must not leak the staging dir (only a process
        # KILL can — and the entry-time rmtree above reclaims that)
        shutil.rmtree(sidecar_stage, ignore_errors=True)
    atomic_swap(tmp, path)
    return before, len(parquet_file_lineage(path))


def zvalue(cols: list, bits: int = 20):
    """Z-order (Morton) interleave of N integer columns into one BIGINT —
    the multi-dimensional clustering key for data-skipping layouts. Pure
    bit arithmetic on JVM expressions (shift/and/or), integer-exact and
    engine-portable, so the curve value itself is oracle-able.

    ``bits`` low bits per dimension are interleaved (values above 2^bits
    wrap into the same curve cell — callers pick bits to cover the domain;
    N*bits must fit in 63). Column i's bit b lands at position N*b + i.
    """
    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"z-value would overflow a BIGINT: {n} dims * {bits} bits > 63")
    terms = []
    for i, c in enumerate(cols):
        c = F.col(c) if isinstance(c, str) else c
        c = c.cast("long")
        for b in range(bits):
            terms.append(F.shiftleft(F.shiftright(c, b).bitwiseAND(F.lit(1)), n * b + i))
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out


def zvalue_sql(cols: list[str], bits: int = 20) -> str:
    """The identical Morton interleave as portable SQL (DuckDB oracle twin
    of ``zvalue`` — same bit positions, OR-reduced)."""
    n = len(cols)
    terms = [
        f"((({c} >> {b}) & 1) << {n * b + i})" for i, c in enumerate(cols) for b in range(bits)
    ]
    return "(" + " | ".join(terms) + ")"


def write_zordered(df, dest: str, cols: list[str], n_files: int = 8, bits: int = 20) -> None:
    """Persist ``df`` clustered along the Z-curve of ``cols``:
    repartitionByRange on the z-value (contiguous, disjoint curve ranges
    per file) + sortWithinPartitions, so each parquet file covers a small
    hyper-rectangle of the key space and its column-chunk min/max
    statistics prune scans on ANY prefix-free combination of the z
    dimensions — the layout trick bucketing can't do for multi-dimensional
    predicates. At 100 TB this is the difference between reading every
    file for a (user, time-range) probe and reading the few files whose
    z-range intersects it. One range-exchange at write time; queries pay
    nothing."""
    z = zvalue(cols, bits).alias("_z")
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(dest)
    )
