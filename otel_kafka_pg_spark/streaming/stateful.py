"""Custom stateful streaming operator: per-conversation running state via
``applyInPandasWithState``.

The reference accumulates per-batch counts in a mutex-guarded in-memory
buffer and loses all cross-batch state at flush (consumer.go:21-26 — the
buffer is the only state, and it resets every flush). This operator is the
capability the reference lacks: durable per-KEY state that survives
micro-batch boundaries, checkpointed by Structured Streaming, with
Arrow-batched (not per-row) state updates.

Semantics: for every conversation, maintain (n_turns, n_traces, first_ts,
last_ts) across ALL micro-batches seen so far and emit the updated totals
each time the conversation receives rows (update output mode). The final
emitted row per conversation equals the batch ``groupBy(conv_id).agg(...)``
over the same input — order-insensitive totals, so arrival order across
micro-batches cannot change the result; that equality is the test/oracle
gate (tests/test_streaming.py, registry st3).

At scale: state lives in the state store partitioned by conv_id (~10^9
keys × ~40 bytes — tens of GB across executors, RocksDB state store
territory, config not code); each micro-batch shuffles only its own rows
by conv_id. The pandas function receives whole Arrow batches per key —
no per-row Python.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

CONV_STATE_OUTPUT = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("n_turns", T.LongType(), False),
        T.StructField("n_traces", T.LongType(), False),
        T.StructField("first_ts", T.TimestampNTZType(), True),
        T.StructField("last_ts", T.TimestampNTZType(), True),
    ]
)

# state tuple: scalar-only (timestamps as epoch micros)
CONV_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_turns", T.LongType(), False),
        T.StructField("n_traces", T.LongType(), False),
        T.StructField("first_us", T.LongType(), True),
        T.StructField("last_us", T.LongType(), True),
    ]
)


def _track(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    (conv_id,) = key
    n_turns, n_traces, first_us, last_us = state.get if state.exists else (0, 0, None, None)
    for pdf in pdfs:
        n_turns += len(pdf)
        n_traces += int((pdf["signal_type"] == "trace").sum())
        us = pdf["ts"].astype("datetime64[us]").astype("int64")
        if len(us):
            mn, mx = int(us.min()), int(us.max())
            first_us = mn if first_us is None else min(first_us, mn)
            last_us = mx if last_us is None else max(last_us, mx)
    state.update((n_turns, n_traces, first_us, last_us))
    yield pd.DataFrame(
        {
            "conv_id": [conv_id],
            "n_turns": [n_turns],
            "n_traces": [n_traces],
            "first_ts": pd.to_datetime([first_us], unit="us"),
            "last_ts": pd.to_datetime([last_us], unit="us"),
        }
    )


def conversation_state_stream(spark, input_dir: str, max_files_per_trigger: int = 2) -> DataFrame:
    """Streaming per-conversation running totals: readStream → parse →
    signal classification → applyInPandasWithState keyed by conv_id.
    Returns the streaming DataFrame (update output mode; caller starts it).
    ``max_files_per_trigger`` is a SOURCE option — it chunks availableNow
    drains into several micro-batches so state genuinely crosses batch
    boundaries in tests."""
    from ..functions.parse import parse_turns
    from ..operators.route import classify_signal
    from ..schemas import TRANSCRIPTS

    stream = (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    classified = classify_signal(parse_turns(stream)).select(
        "conv_id", "ts", "signal_type"
    )
    return classified.groupBy("conv_id").applyInPandasWithState(
        _track,
        outputStructType=CONV_STATE_OUTPUT,
        stateStructType=CONV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _append_once(batch_df: DataFrame, batch_id: int, dest: str) -> bool:
    """Write a micro-batch under ``dest`` exactly once per (batch_id,
    content signature), following the commit protocol of ``markers.py``.
    Each batch lands in its OWN ``batch=<id>`` directory via
    mode("overwrite"), so a crash between the data commit and the marker
    write replays into an overwrite of the same directory — idempotent by
    construction. The stateful output has no usable ``inputFiles()``
    lineage (the scan is buried under applyInPandasWithState), so the
    marker signs the batch's content over all of its columns; replays are
    deterministic (a replayed batch re-reads the pre-batch state snapshot),
    so a committed batch re-signs identically and is skipped.

    A signature-mismatched batch 0 is a NEW STREAM GENERATION (batch ids
    restart at 0 only when the checkpoint was wiped or relocated): every
    surviving ``batch=*`` directory and marker is cleared first, so stale
    higher-numbered batches can't double-count in ``read_state_updates``.
    Replay idempotence assumes the same trigger/source config, which
    availableNow + a deterministic file source gives. Returns True iff data
    was (re)written."""
    import os
    import shutil

    from .markers import MARKER_DIR, content_signature, marker_committed, marker_file, write_marker

    sig = content_signature(batch_df, batch_df.columns)
    if marker_committed(dest, batch_id, sig):
        return False
    if batch_id == 0 and os.path.exists(marker_file(dest, 0)):
        # new stream generation (see docstring): wipe the previous
        # generation's batch partitions and markers before writing
        for d in os.listdir(dest):
            if d.startswith("batch=") or d == MARKER_DIR:
                shutil.rmtree(os.path.join(dest, d), ignore_errors=True)
    batch_df.write.mode("overwrite").parquet(os.path.join(dest, f"batch={batch_id}"))
    write_marker(dest, batch_id, sig)
    return True


def read_state_updates(spark, dest: str) -> DataFrame:
    """Read the durable update rows written by
    ``run_conversation_state_stream`` — the ``batch=<id>`` partition
    column is commit bookkeeping, not data, and is dropped."""
    return spark.read.parquet(dest).drop("batch")


def run_conversation_state_stream(
    spark,
    input_dir: str,
    out_dir: str,
    max_files_per_trigger: int = 2,
) -> str:
    """Durable form of ``conversation_state_stream``: the update stream
    lands in ``<out_dir>/conv_state`` through the micro-batch commit
    protocol of ``markers.py`` (``_append_once`` per batch), so
    kill-and-resume never duplicates or drops an update batch. Returns the
    conv_state directory; collapse it with ``final_conversation_state``."""
    import os

    from .markers import drain, new_generation

    checkpoint = os.path.join(out_dir, "_checkpoint")
    dest = os.path.join(out_dir, "conv_state")
    # the guard also covers what _append_once's batch-0 rule can't see: an
    # old and a new generation sharing an identical batch 0, and a legacy
    # empty batch-0 marker that matches any signature
    new_generation(checkpoint, [dest])
    updates = conversation_state_stream(spark, input_dir, max_files_per_trigger)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()  # two actions: signature aggregate + append
        try:
            _append_once(batch_df, batch_id, dest)
        finally:
            batch_df.unpersist()

    drain(updates, checkpoint, process_batch, "update")
    return dest


def final_conversation_state(updates: DataFrame) -> DataFrame:
    """Collapse the update stream to each conversation's FINAL state: the
    emission with the highest n_turns (monotone per key, ties impossible —
    n_turns strictly grows with every update that fires)."""
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy("conv_id").orderBy(F.desc("n_turns"))
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
