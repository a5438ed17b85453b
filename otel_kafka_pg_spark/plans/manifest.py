"""Batch commit path: per-output stamps, lineage, row counts, content hashes.

The reference gets at-least-once delivery from Kafka auto-commit plus
re-buffer-on-failure (reference: consumer.go:91-92, :306-324) and converts
it to effectively-once via primary-key upserts (log/repository/
repository.go:67-88). Our batch analog: deterministic row IDs, and one rule
for "this output is done for this input" shared by every batch job
(``run_pipeline``'s sinks, ``run_corpus_prep``'s stages):
``commit_output`` overwrites the output directory and then atomically
stamps it (``_stage.json``: input fingerprint, row count, order-insensitive
content hash, per-partition lineage); ``committed_output`` trusts a
directory only when its stamp is readable, its fingerprint matches and
Spark's ``_SUCCESS`` marker is present. A resumed run rewrites exactly the
outputs without such a stamp: a crashed write, a deleted directory or a
different input never short-circuits, and no shared file is updated
concurrently. The overwrite removes the old stamp before the new data
lands, so a stamp always describes the data beside it.

The content hash is ``bit_xor(row_hash(row))`` — commutative, so it is
independent of partitioning and task scheduling; two datasets hash equal iff
they contain the same multiset of rows (xor cancels duplicates pairwise;
combined with the row count this is collision-safe for our purposes).
"""

from __future__ import annotations

import functools
import json
import logging
import os
import time
import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MANIFEST_NAME = "_manifest.json"
STAMP_NAME = "_stage.json"

log = logging.getLogger(__name__)


@functools.cache
def row_hash(columns: tuple[str, ...]) -> Column:
    """Per-row xxhash64 over ``columns``, NULL-position safe: Spark's
    ``xxhash64`` skips NULL inputs, so ``("x", NULL)`` and ``(NULL, "x")``
    would hash alike — each NULL is coalesced to its own token after the
    cast. Built once per column tuple: the per-column expressions cost
    ~350 py4j round trips for a 12-column frame, paid on every sink write
    otherwise."""
    null = F.lit("\x00null")
    return F.xxhash64(*[F.coalesce(F.col(c).cast("string"), null) for c in columns])


@functools.cache
def _summary_exprs(columns: tuple[str, ...]) -> tuple[Column, Column]:
    """(row count, xor of per-row ``row_hash``) over ``columns``."""
    return F.count(F.lit(1)).alias("rows"), F.coalesce(F.bit_xor(row_hash(columns)), F.lit(0)).alias("h")


def content_hash(df: DataFrame) -> tuple[int, int]:
    """(rows, order-insensitive content hash) in one aggregate pass."""
    row = df.agg(*_summary_exprs(tuple(df.columns))).collect()[0]
    return int(row["rows"]), int(row["h"])


def write_with_summary(df: DataFrame, dest: str) -> tuple[int, int, list[dict]]:
    """Write parquet and return (rows, content hash, per-partition lineage)
    with ZERO extra Spark jobs:

    - rows + order-insensitive xor-hash ride along the write job itself via
      ``DataFrame.observe`` (computed on the exact rows written);
    - per-partition lineage comes from the parquet footers of the written
      files — a driver-side metadata read (each output file is one write
      task's partition).

    The previous design re-read every sink and ran an aggregate pass —
    2 extra jobs per sink; at 10^12 rows that's re-scanning the whole output.

    Caveat (and its guard): ``observe`` accumulators can double-count under
    task retries / speculative execution (rows over-counted; the xor hash
    self-cancels re-executed partitions). The parquet footers record what
    was actually COMMITTED, so the observed row count is validated against
    the footer total; on mismatch (a retry happened) the summary falls back
    to one exact read-back aggregate over the written files — correctness
    never depends on retry-free execution, the fast path just assumes it.
    """
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, *_summary_exprs(tuple(df.columns)))
    observed.write.mode("overwrite").parquet(dest)
    metrics = obs.get
    lineage = parquet_file_lineage(dest)
    committed_rows = sum(p["rows"] for p in lineage)
    if int(metrics["rows"]) != committed_rows:
        # a task retry skewed the accumulators — recompute exactly from the
        # committed files (2 extra jobs, but only on the rare retry path)
        spark = df.sparkSession
        rows, h = content_hash(spark.read.parquet(dest))
        return rows, h, lineage
    return int(metrics["rows"]), int(metrics["h"]), lineage


def parquet_file_lineage(dest: str) -> list[dict]:
    """Per-output-file row counts from parquet footer metadata (no job).
    Recursive listing so hive-partitioned sink layouts (partitionBy) keep
    working; file order is the sorted relative path (deterministic).

    Filesystem-abstracted via ``pyarrow.fs``: a plain path uses the local
    filesystem, a URI (``s3://…``, ``hdfs://…``) resolves to the matching
    pyarrow filesystem — footer reads go through the same handle, so an
    object-store sink gets identical lineage without code changes (``s3a://``
    spark URIs map to pyarrow's ``s3://``). The manifest schema is
    identical either way."""
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    if "://" in dest:
        filesystem, root = pafs.FileSystem.from_uri(dest.replace("s3a://", "s3://", 1))
    else:
        filesystem, root = pafs.LocalFileSystem(), dest
    infos = [
        i
        for i in filesystem.get_file_info(pafs.FileSelector(root, recursive=True))
        if i.is_file and i.path.endswith(".parquet")
    ]
    infos.sort(key=lambda i: os.path.relpath(i.path, root))
    return [
        {"partition_id": idx, "rows": pq.read_metadata(i.path, filesystem=filesystem).num_rows}
        for idx, i in enumerate(infos)
    ]


def atomic_write(path: str, text: str) -> None:
    """Write a small file atomically (unique tmp beside it + ``os.replace``):
    a kill mid-write leaves the old file or none, never a torn one. The tmp
    name is hidden (leading dot), so neither Spark's parquet listing nor
    ``input_fingerprint`` ever reads a leftover."""
    d, name = os.path.split(path)
    os.makedirs(d or ".", exist_ok=True)
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "x") as f:
        f.write(text)
    os.replace(tmp, path)


def save_manifest(out_dir: str, manifest: dict) -> None:
    atomic_write(os.path.join(out_dir, MANIFEST_NAME), json.dumps(manifest, indent=1, sort_keys=True))


def commit_output(frame: DataFrame, dest: str, fingerprint: str) -> dict:
    """Overwrite ``dest`` with ``frame`` and stamp it committed for
    ``fingerprint``; return its entry (rows, content hash, path, lineage
    and ``write_s``, the wall time of the write). The stamp is written
    after the parquet commit and atomically, so a kill leaves either no
    stamp or a whole one."""
    t0 = time.monotonic()
    rows, chash, lineage = write_with_summary(frame, dest)
    entry = {"rows": rows, "content_hash": chash, "path": dest, "lineage": lineage,
             "write_s": time.monotonic() - t0}
    atomic_write(os.path.join(dest, STAMP_NAME), json.dumps({"fingerprint": fingerprint, **entry}))
    return entry


def committed_output(dest: str, fingerprint: str) -> dict | None:
    """The entry ``commit_output`` stored in ``dest``, or None unless the
    directory committed (``_SUCCESS``) and carries a readable stamp for
    ``fingerprint``."""
    if not os.path.exists(os.path.join(dest, "_SUCCESS")):
        return None
    try:
        with open(os.path.join(dest, STAMP_NAME)) as f:
            entry = json.load(f)
    except (OSError, ValueError):
        # missing or torn stamp → rewrite. ValueError covers both
        # JSONDecodeError (truncated write) and UnicodeDecodeError
        # (byte-corrupted file), which is not a JSONDecodeError
        return None
    if entry.pop("fingerprint", None) != fingerprint:
        return None
    return entry


def input_fingerprint(path: str) -> str:
    """Deterministic identity of an input dataset: relative file paths +
    sizes, listed RECURSIVELY (hive-partitioned inputs keep their data under
    ``key=value/`` subdirectories) and through pyarrow's filesystem layer so
    ``s3a://…``/``hdfs://…`` URIs fingerprint the same way local paths do.

    The fingerprint always embeds the NORMALIZED input root (abspath for
    local paths, scheme-normalized URI otherwise), never the caller's
    literal spelling: ``data/in`` and ``/abs/data/in`` must resume each
    other. An unlistable or empty input must never share a fingerprint
    with a different unlistable or empty input, otherwise resume would
    treat them as the same dataset and skip all work (the "" == ""
    false-match) — so a REAL listing error gets a per-call nonce and is
    reported loudly.
    """
    import pyarrow.fs as pafs

    is_uri = "://" in path
    norm = path.replace("s3a://", "s3://", 1) if is_uri else os.path.abspath(path)
    parts = [f"path={norm}"]
    try:
        filesystem, root = pafs.FileSystem.from_uri(norm)
        info = filesystem.get_file_info(root)
        if info.type == pafs.FileType.File:
            parts.append(f"{os.path.basename(root)}:{info.size}")
        elif info.type == pafs.FileType.Directory:
            sel = pafs.FileSelector(root, recursive=True)
            for fi in sorted(filesystem.get_file_info(sel), key=lambda fi: fi.path):
                base = os.path.basename(fi.path)
                if fi.type == pafs.FileType.File and not base.startswith(("_", ".")):
                    rel = fi.path[len(root):].lstrip("/")
                    parts.append(f"{rel}:{fi.size}")
        else:
            parts.append("missing")
    except Exception as exc:  # noqa: BLE001 — unlistable input: never match
        # anything stored, so resume REWRITES rather than silently skipping
        # work over data it cannot identify (a per-call nonce keeps it
        # unmatchable) — and the cause is logged, not swallowed, so a
        # permanent environment defect (bad credentials, wrong URI) shows up
        # as a warning per run instead of an unexplained full-rewrite loop
        log.warning(
            "[manifest] input %r unlistable (%s: %s) — resume disabled for this run",
            norm, type(exc).__name__, exc,
        )
        parts.append(f"unlistable:{os.urandom(8).hex()}")
    return "|".join(parts)
