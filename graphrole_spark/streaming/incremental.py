"""Structured Streaming epilogue: incremental transcript features.

The north rule's pipeline is batch with point-in-time semantics; this
module shows the streaming maintenance path for the subset of features
that stream cleanly:

* stateless per-turn seed attributes (text length, tool/role flags) —
  append mode, no state;
* per-session aggregates via ``session_window`` + watermark — the
  streaming analog of :func:`graphrole_spark.temporal.ops.sessionize`
  (late turns beyond the watermark are dropped, exactly the documented
  late-data policy);
* a stateful per-conversation runner using ``applyInPandasWithState``
  that maintains the running turn count and degree of the chain tail —
  the building block for incrementally extending gen-0 features when a
  conversation grows.

Batch parity: for sessions that the watermark has closed, the streaming
session aggregates equal the batch ``sessionize`` + groupBy results
(tested with a memory sink in tests/test_streaming.py).
"""

from __future__ import annotations

from typing import Iterable, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState


def stream_turn_attributes(stream: DataFrame) -> DataFrame:
    """Stateless per-turn attribute features (append-safe)."""
    return stream.select(
        "conv_id",
        "turn_idx",
        "ts",
        F.length("text").cast("double").alias("attribute_text_len"),
        F.when(F.col("tool").isNotNull() & (F.col("tool") != ""), 1.0)
        .otherwise(0.0)
        .alias("attribute_is_tool"),
        F.when(F.col("role") == "user", 1.0).otherwise(0.0).alias("attribute_is_user"),
    )


def stream_session_stats(
    stream: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-(conversation, session) aggregates with a session window.

    Append output mode: a row is emitted once the watermark passes the
    session end — the streaming twin of the batch sessionize+groupBy.
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", f"{gap_seconds} seconds"),
            "conv_id",
        )
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length("text")).alias("total_chars"),
        )
        .select(
            "conv_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_turns",
            "total_chars",
        )
    )


def _stream_source_dir(parquet_path: str) -> str:
    """File-source streams need a directory; wrap single files."""
    import os
    import tempfile

    if os.path.isdir(parquet_path):
        return parquet_path
    d = tempfile.mkdtemp(prefix="graphrole_stream_")
    os.symlink(parquet_path, os.path.join(d, os.path.basename(parquet_path)))
    return d


def _drain_to_memory(spark, parquet_path: str, build, output_mode: str) -> DataFrame:
    """Run the streaming query ``build(stream)`` over a parquet source
    to completion (``availableNow``) into a memory sink and return the
    sink's table."""
    import uuid

    schema = spark.read.parquet(parquet_path).schema
    stream = spark.readStream.schema(schema).parquet(_stream_source_dir(parquet_path))
    name = f"drain_{uuid.uuid4().hex[:12]}"
    writer = build(stream).writeStream.format("memory").queryName(name)
    writer.outputMode(output_mode).trigger(availableNow=True).start().awaitTermination()
    return spark.table(name)


def conversation_state_available_now(spark, parquet_path: str) -> DataFrame:
    """Run the stateful per-conversation counter
    (:func:`stream_conversation_state`, ``applyInPandasWithState``) to
    completion over a parquet source and return the emitted rows — the
    driver-contract surface for the custom stateful streaming operator."""
    return _drain_to_memory(
        spark,
        parquet_path,
        lambda stream: stream_conversation_state(
            stream.select(
                F.col("user_id").cast("string").alias("conv_id"),
                F.col("event_id").cast("long").alias("turn_idx"),
            )
        ),
        "append",
    )


def session_stats_available_now(
    spark,
    parquet_path: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Run the session_window aggregation as a REAL streaming query over
    a parquet source with ``trigger(availableNow=True)`` and return the
    completed result (memory sink, complete mode).

    This is the batch-parity surface for the driver contract: the result
    equals gap-sessionization with ``diff >= gap`` boundaries (the
    session_window interval [ts, ts+gap) is half-open), so a plain SQL
    oracle can value-check the streaming operator. The file source needs
    a directory — a temp dir of symlinks wraps single-file tables.
    """

    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.groupBy(F.session_window(ts_col, f"{gap_seconds} seconds"), key_col)
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum(value_col), 6).alias("total_value"),
            )
            .select(
                key_col,
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "n_events",
                "total_value",
            )
        )

    return _drain_to_memory(spark, parquet_path, build, "complete")


_STATE_SCHEMA = "n_turns long, last_idx long"
_OUT_SCHEMA = "conv_id string, turn_idx long, running_turns long, tail_degree long"


def _conv_state_fn(
    key: Tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Maintain per-conversation running counts; emit one row per new
    turn with the chain-tail degree (1 for the first turn, else 2 —
    the incremental gen-0 degree of the latest turn's predecessor)."""
    (conv_id,) = key
    if state.exists:
        n_turns, last_idx = state.get
    else:
        n_turns, last_idx = 0, -1
    rows = []
    for pdf in pdfs:
        for idx in sorted(int(i) for i in pdf["turn_idx"]):
            n_turns += 1
            last_idx = max(last_idx, idx)
            rows.append((conv_id, idx, n_turns, 1 if n_turns == 1 else 2))
    state.update((n_turns, last_idx))
    yield pd.DataFrame(rows, columns=["conv_id", "turn_idx", "running_turns", "tail_degree"])


def stream_conversation_state(stream: DataFrame) -> DataFrame:
    """Stateful per-conversation incremental counters
    (``applyInPandasWithState``, processing-time timeout disabled)."""
    return (
        stream.select("conv_id", "turn_idx")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _conv_state_fn,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )
