"""Custom stateful streaming operator: per-conversation running aggregates
via ``applyInPandasWithState`` (the arbitrary-stateful-processing API).

Demonstrates the engine's custom-operator escape hatch (SURVEY.md §2.9 /
driver guidance: applyInPandasWithState for custom stateful operators):
each conversation keeps durable state across microbatches — events seen,
max turn seen, deletes seen — and emits one updated summary row per
conversation per batch. State is pandas-typed, Arrow-transferred, and
bounded by a processing-time timeout (idle conversations age out).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .metrics import drain_to_memory

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("events_seen", T.LongType(), False),
        T.StructField("max_turn", T.LongType(), True),
        T.StructField("deletes_seen", T.LongType(), False),
        T.StructField("max_lsn", T.LongType(), True),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("events_seen", T.LongType(), False),
        T.StructField("max_turn", T.LongType(), True),
        T.StructField("deletes_seen", T.LongType(), False),
        T.StructField("max_lsn", T.LongType(), True),
    ]
)


def _update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    (conv_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    events, max_turn, deletes, max_lsn = (
        state.get if state.exists else (0, None, 0, None)
    )
    for pdf in pdfs:
        events += len(pdf)
        deletes += int((pdf["op"] == "D").sum())
        mt = pdf["turn_idx"].max()
        ml = pdf["lsn"].max()
        max_turn = int(mt) if max_turn is None else max(max_turn, int(mt))
        max_lsn = int(ml) if max_lsn is None else max(max_lsn, int(ml))
    state.update((events, max_turn, deletes, max_lsn))
    yield pd.DataFrame(
        {
            "conv_id": [conv_id],
            "events_seen": [events],
            "max_turn": [max_turn],
            "deletes_seen": [deletes],
            "max_lsn": [max_lsn],
        }
    )


def conversation_state_stream(stream_df):
    """events stream → per-conversation running summary (update mode)."""
    return (
        stream_df.select("conv_id", "op", F.col("turn_idx").cast("long"), "lsn")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            # NoTimeout for drain-style runs: a processing-time timeout makes
            # availableNow keep scheduling timeout-only batches forever. A
            # continuous deployment switches to ProcessingTimeTimeout +
            # state.setTimeoutDuration to age out idle conversations.
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_conversation_state(spark, segments_dir: str, source_schema, checkpoint_dir: str,
                           query_name: str = "conv_state"):
    """Drain the WAL through the stateful operator; the update-mode sink
    holds one row per conversation per batch, so keep each conversation's
    latest summary."""
    out = drain_to_memory(
        spark, segments_dir, source_schema, checkpoint_dir, query_name,
        conversation_state_stream, output_mode="update",
    )
    return out.groupBy("conv_id").agg(
        F.max_by("events_seen", "max_lsn").alias("events_seen"),
        F.max("max_turn").alias("max_turn"),
        F.max_by("deletes_seen", "max_lsn").alias("deletes_seen"),
    )
