"""Micro-batch commit protocol — the one replay-idempotence path every
``foreachBatch`` stream in this package runs through
(``stream_pipeline.run_stream`` flat-append sinks,
``stateful.run_conversation_state_stream`` partition-overwrite sinks,
``stream_pipeline.stream_upsert`` merge sink).

Reference analog: the buffered flush + re-queue-on-failure loop
(``modules/kafka/consumer/consumer.go:277-329``), re-expressed as a
replayable source + checkpoint (at-least-once) plus idempotent sinks:

1. **drain** (``drain``): ``foreachBatch`` under a checkpoint with
   ``trigger(availableNow=True)`` — process everything currently present,
   then stop. A failed micro-batch is replayed under the SAME batch id on
   restart (the checkpoint's offset log precedes the batch, its commit log
   follows it).
2. **generation guard** (``new_generation``): because the offset log is
   written before any sink is touched, sink state can exist only beside a
   checkpoint. Checkpoint absent + sink state present therefore means the
   checkpoint was wiped or relocated: batch ids restart at 0 over possibly
   different input, so the sinks are cleared before the drain instead of
   being appended to (aggregate rows have no dedup identity).
3. **signature**: a replayed batch is skipped only when both its batch id
   AND its input signature match the marker — a batch_id-only marker
   would silently drop the re-numbered batches of a new generation
   (ADVICE r2). File-source batches sign their input-file list; batches
   without file lineage sign their content (``content_signature``: row
   count + an order-insensitive SUM of the manifest's NULL-safe row hash —
   a sum, not xor, because xor cancels duplicated rows pairwise and
   at-least-once redelivery makes duplicates realistic).
4. **markers**: data is committed FIRST, the marker SECOND (atomic
   tmp + ``os.replace``), so a marker proves its data landed. The window
   between the two is one filesystem call; a sink that overwrites a
   per-batch directory closes it entirely.
5. an EMPTY marker is the legacy existence-only format (pre-signature):
   the old contract was "marker present → committed", honored so a
   crash-restart upgrading mid-stream never re-appends.

A merge sink whose per-key result is order-insensitive (``stream_upsert``)
needs only step 1: re-applying a batch cannot change the table.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.manifest import atomic_write, row_hash

MARKER_DIR = "_batches"


def new_generation(checkpoint: str, sink_dirs: Iterable[str]) -> None:
    """Generation guard (step 2): clear ``sink_dirs`` if ``checkpoint`` is
    absent."""
    if not os.path.isdir(checkpoint):
        for d in sink_dirs:
            shutil.rmtree(d, ignore_errors=True)


def drain(
    stream: DataFrame,
    checkpoint: str,
    process_batch: Callable[[DataFrame, int], None],
    output_mode: str = "append",
) -> None:
    """Run ``process_batch`` over every micro-batch currently available
    (step 1), blocking until the drain ends."""
    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def content_signature(df: DataFrame, cols: Iterable[str]) -> str:
    """Order-insensitive signature of ``df``'s rows over ``cols`` (step 3),
    one aggregate pass. The sum runs in decimal(38,0): an ANSI bigint sum
    could overflow-error."""
    m = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(row_hash(tuple(cols)).cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)")
        ).alias("h"),
    ).collect()[0]
    return hashlib.sha256(f"{m['n']}:{m['h']}".encode()).hexdigest()


def marker_file(dest: str, batch_id: int) -> str:
    """Path of the commit marker for ``batch_id`` under sink dir ``dest``."""
    return os.path.join(dest, MARKER_DIR, f"{batch_id}.done")


def marker_committed(dest: str, batch_id: int, sig: str) -> bool:
    """True iff ``batch_id`` already committed under ``dest`` with the same
    input signature, or a legacy empty marker (steps 3 and 5)."""
    marker = marker_file(dest, batch_id)
    if not os.path.exists(marker):
        return False
    with open(marker) as fh:
        content = fh.read().strip()
    return content == "" or content == sig


def write_marker(dest: str, batch_id: int, sig: str) -> None:
    """Record ``batch_id`` as committed (step 4). Atomic: a truncated
    marker would re-trigger — or worse, permanently suppress — the
    append."""
    atomic_write(marker_file(dest, batch_id), sig)
